package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MinHash signature kernel: `graft_minhash(hs, k)` over an
  * `array<bigint>` of 60-bit shingle hashes (the [[WindowHash]] output)
  * → `array<bigint>` of the k min-hashes
  * `min_h((h mod p) · A_s + B_s mod p)` under the universal hash family
  * over the Mersenne prime p = 2³¹−1 whose md5-derived constants
  * [[MinHashSig.hashA]]/[[MinHashSig.hashB]] both engines embed
  * (`Dedup.minhashCtes` interpolates the same values into the DuckDB
  * oracle SQL).
  *
  * The built-in spelling — k × `array_min(transform(hs, h -> (h % p) *
  * A_s + B_s % p))` — walks the array k times on the expression
  * interpreter (a lambda-eval per element per hash function: the
  * measured bulk of the whole MinHash family's runtime once the md5s
  * moved into [[WindowHash]]). This kernel is one fused loop — k
  * running minima updated per element — invoked once per row from
  * whole-stage-codegen'd code. All products stay < 2⁶² (h mod p and
  * A_s both < 2³¹), so the arithmetic is exact.
  *
  * Empty input yields NULL (the built-in `array_min` of an empty array
  * is null, and a signature with no shingles is meaningless — callers
  * filter docs shorter than the shingle width first). MinHashSigSpec
  * asserts bit-parity against the SQL spelling on random inputs.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, false), IntegerType) if right.foldable =>
      val k = right.eval()
      if (k != null && k.asInstanceOf[Int] >= 1 && k.asInstanceOf[Int] <= 64)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_minhash k must be a literal int in [1, 64], got $k")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires (array<bigint> with containsNull=false, " +
        s"int literal), got ${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  private lazy val k: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(arr: Any, kIgnored: Any): Any = {
    val mins = MinHashSig.compute(arr.asInstanceOf[ArrayData], k)
    if (mins == null) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val kernel = MinHashSig.getClass.getName.stripSuffix("$")
      val arrCls = classOf[UnsafeArrayData].getName
      s"""long[] ${ev.value}Mins = $kernel.compute($a, $k);
         |if (${ev.value}Mins == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $arrCls.fromPrimitiveArray(${ev.value}Mins);
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

object MinHashSig {
  /** Mersenne prime 2³¹−1 — the universal-hash modulus. */
  val MersenneP: Long = 2147483647L

  /** md5-derived hash-family constants, the single source both the
    * kernel and the oracle-SQL interpolation read (up to 64 slots). */
  val hashA: IndexedSeq[Long] = (0 until 64).map(s => H60(s"A$s") % (MersenneP - 1) + 1)
  val hashB: IndexedSeq[Long] = (0 until 64).map(s => H60(s"B$s") % MersenneP)

  /** The fused loop; static so the generated code and the interpreted
    * eval share one implementation (PackedPairs precedent). Returns
    * null for an empty input (mirrors array_min's null). */
  def compute(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i) % MersenneP
      var s = 0
      while (s < k) {
        val v = (h * hashA(s) + hashB(s)) % MersenneP
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    mins
  }
}
