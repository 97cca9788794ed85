package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** graft_dot must be BIT-identical to the built-in fold it replaces —
  * the oracle hash-compare tolerates zero ulps of drift — over both of
  * its element types, `array<double>` and `array<bigint>`. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graft_dot == aggregate(zip_with(...)) bit-for-bit, codegen path") {
    import spark.implicits._
    val df = Seq.tabulate(100) { k =>
      (Seq.tabulate(64)(i => math.sin(k * 64 + i)),
        Seq.tabulate(64)(i => math.cos(k * 64 + i)))
    }.toDF("a", "b")
    val rows = df.select(
        expr("graft_dot(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("builtin"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, b) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(b))
    }
    // array<bigint>, in the quantization contract's range: ±2·10⁶, 64 dims
    val rng = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rng.nextInt(4000001).toLong - 2000000L)
    val longs = Seq.fill(100)((vec(), vec())).toDF("a", "b").select(
        expr("graft_dot(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, x) -> s + x)").as("builtin"))
      .as[(Long, Long)].collect()
    assert(longs.length == 100)
    longs.foreach { case (n, b) => assert(n == b) }
  }

  test("null array -> null; empty arrays -> 0.0") {
    import spark.implicits._
    Seq("DOUBLE", "BIGINT").foreach { t =>
      val got = spark.sql(
        s"SELECT graft_dot(CAST(NULL AS ARRAY<$t>), CAST(array(1) AS ARRAY<$t>)) AS n, " +
          s"graft_dot(CAST(array() AS ARRAY<$t>), CAST(array() AS ARRAY<$t>)) AS e")
        .selectExpr("n IS NULL AS n_null", "CAST(e AS DOUBLE)").as[(Boolean, Double)].collect().head
      assert(got == ((true, 0.0)), t)
    }
  }

  test("mixed element types fail the type check, naming both") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1D), array(1L))").collect()
    }
    assert(e.getMessage.contains("got array<double> and array<bigint>"), e.getMessage)
  }
}
