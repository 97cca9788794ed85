package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native dot product over two `array<double>` columns (→ double) or two
  * `array<bigint>` columns (→ bigint).
  *
  * The built-in spelling — `aggregate(zip_with(a, b, (x,y) -> x*y), 0D,
  * (acc,x) -> acc+x)` — materializes an intermediate array and evaluates
  * the lambdas interpreted, per element, outside whole-stage codegen.
  * This expression generates a tight fused loop instead: the double form
  * is the hot kernel under every similarity query (top-k, LSH bucketing,
  * near-dup cosine), the bigint form under the quantized-embedding ops
  * ([[graft.operators.Semantic]]: distances, norms, pairwise cosine).
  *
  * Semantics: left-to-right accumulation — BIT-IDENTICAL to the
  * built-in fold and to DuckDB's `list_reduce` equivalent, so swapping
  * it in does not move any oracle-checked double by even an ulp.
  * Unequal lengths use the common prefix; null array → null. (Inputs
  * here are fixed-width embedding vectors; both caveats are theoretical.)
  *
  * Bigint overflow: raw 64-bit multiply-add, NO ANSI check — callers own
  * the bound. The quantization contract (values in ±2·10⁶, ≤ 64 dims)
  * keeps every partial below 2.6·10¹⁴, five orders of magnitude under
  * Long.MaxValue.
  *
  * Exposed as SQL function `graft_dot` via [[GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) |
         (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> or two array<bigint> arguments, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = left.dataType match {
    case ArrayType(LongType, _) => LongType
    case _ => DoubleType
  }
  override def prettyName: String = "graft_dot"

  private lazy val long = dataType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    if (long) {
      var s = 0L
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    } else {
      var s = 0.0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val (jt, get, zero) = if (long) ("long", "getLong", "0L") else ("double", "getDouble", "0.0")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |$jt $s = $zero;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.$get($i) * $b.$get($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Engine extensions, installed with
  * `spark.sql.extensions=graft.expressions.GraftExtensions` (see [[graft.Sessions]]).
  * The injection point Spark provides for exactly this: custom
  * expressions/rules/strategies without forking the session builder. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.kernels.foreach(k =>
      ext.injectFunction((FunctionIdentifier(k.name), k.info, k.build)))
}

object GraftExtensions {
  /** One native kernel: its SQL name, the expression class its
    * `ExpressionInfo` names, and the builder from argument expressions. */
  final case class Kernel(
      name: String, cls: Class[_ <: Expression], build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** Every native function the engine's queries use — the ONE table both
    * the session extension and [[graft.SparkEntry.ensure]] (for a
    * caller-owned session built without the extension) register. */
  val kernels: Seq[Kernel] = Seq(
    Kernel("graft_dot", classOf[DotProduct], ch => DotProduct(ch.head, ch(1))),
    Kernel("graft_simhash", classOf[SimHashVotes], ch => SimHashVotes(ch.head, ch(1))),
    Kernel("graft_topk", classOf[TopKByCount], ch => TopKByCount(ch.head, ch(1), ch(2))),
    Kernel("graft_pairs", classOf[PackedPairs], ch => PackedPairs(ch.head)),
    Kernel("graft_winhash", classOf[WindowHash], ch => WindowHash(ch.head, ch(1))),
    Kernel("graft_winhash_set", classOf[WindowHashSet], ch => WindowHashSet(ch.head, ch(1))),
    Kernel("graft_bpe_train", classOf[BpeTrain], ch => BpeTrain(ch.head, ch(1))),
    Kernel("graft_minhash", classOf[MinHashSig], ch => MinHashSig(ch.head, ch(1))),
    Kernel("graft_repstats", classOf[RepStats], ch => RepStats(ch.head)),
    Kernel("graft_quant", classOf[QuantArray], ch => QuantArray(ch.head, ch(1), ch(2))),
    Kernel("graft_semdedup_keep", classOf[SemDedupKeep], ch => SemDedupKeep(ch.head)),
    Kernel("graft_mulge", classOf[MulGe], ch => MulGe(ch.head, ch(1), ch(2), ch(3))),
    Kernel("graft_topk_min", classOf[TopKMin], ch => TopKMin(ch.head, ch(1), ch(2))),
    Kernel("graft_set_cap", classOf[CappedSet], ch => CappedSet(ch.head, ch(1))),
    Kernel("graft_mmr", classOf[MmrSelect], ch => MmrSelect(ch.head, ch(1), ch(2))),
    Kernel("graft_bigrams", classOf[BigramPairs], ch => BigramPairs(ch.head)),
    Kernel("graft_looprun", classOf[LoopRun], ch => LoopRun(ch.head, ch(1))),
    Kernel("graft_inter_sorted", classOf[InterSortedCount], ch => InterSortedCount(ch.head, ch(1))),
  )
}
