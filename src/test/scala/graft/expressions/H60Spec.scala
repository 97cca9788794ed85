package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.Dedup

/** The JVM h60 ([[H60]], which `Dedup.h60(String)`, the window-hash
  * kernels and the MinHash constants read) must equal the SQL h60
  * (`Dedup.h60(Column)`: `conv(substring(md5(x),1,15),16,10)`) on every
  * string: ASCII, multi-byte UTF-8 and empty. */
class H60Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("H60 equals Dedup.h60(Column) on ASCII, multi-byte UTF-8 and empty strings") {
    import spark.implicits._
    val rng = new scala.util.Random(60)
    val alphabet = "aZ9 ~\t\né€日本🎈ß".codePoints().toArray
    def multiByte() = {
      val cps = Array.fill(1 + rng.nextInt(20))(alphabet(rng.nextInt(alphabet.length)))
      new String(cps, 0, cps.length)
    }
    val strings = Seq("") ++
      Seq.fill(100)(Iterator.continually(rng.nextPrintableChar()).take(rng.nextInt(40)).mkString) ++
      Seq.fill(100)(multiByte())
    assert(strings.exists(s => s.getBytes("UTF-8").length > s.length), "no multi-byte input")
    val sql = strings.toDF("s").select(col("s"), Dedup.h60(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    strings.foreach(s => assert(H60(s) == sql(s), s"h60 of '$s'"))
    assert(strings.forall(s => Dedup.h60(s) == H60(s)))
  }
}
