package graft.expressions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Property-style equivalence for the bounded top-k aggregate: on
  * random grouped inputs — duplicate counts (tie-break territory),
  * empty groups' absence, k larger than the group, nulls in either
  * column, adversarial partition counts — `graft_topk(n, term, k)`
  * must equal the brute-force "sort by (n DESC, term ASC), take k"
  * reference, in order. The aggregate's merge path is exercised
  * explicitly by repartitioning the same input 1/3/32 ways: a heap
  * whose partial-merge eviction diverged from the total order would
  * produce partitioning-dependent winners, which is exactly the class
  * of bug a distributed ranking kernel must not have. */
class TopKByCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def brute(rows: Seq[(String, Long, String)], k: Int): Map[String, Seq[(String, Long)]] =
    rows.groupBy(_._1).view.mapValues { g =>
      g.map(t => (t._3, t._2))
        .sortBy { case (term, n) => (-n, term) }
        .take(k)
    }.toMap

  test("graft_topk == sort-and-take on random groups across partitionings") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "g STRING, n BIGINT, term STRING")
    val rng = new scala.util.Random(61)
    (1 to 12).foreach { trial =>
      val k = 1 + rng.nextInt(9)
      val nGroups = 1 + rng.nextInt(5)
      // duplicate counts on purpose: the (n DESC, term ASC) tie-break
      // is where a sloppy heap ordering breaks first
      val rows = (0 until 30 + rng.nextInt(200)).map { i =>
        (s"g${rng.nextInt(nGroups)}",
          (rng.nextInt(6) + 1).toLong,
          f"t${rng.nextInt(40)}%03d-$i")
      }
      // distinct terms per group (counts come from a count(*) agg
      // upstream in every registered use)
      val dedup = rows.groupBy(r => (r._1, r._3)).values.map(_.head).toSeq
      val expected = brute(dedup, k)
      Seq(1, 3, 32).foreach { parts =>
        val got = spark.createDataFrame(
          dedup.map { case (g, n, t) => Row(g, n, t) }.asJava, schema)
          .repartition(parts)
          .groupBy("g").agg(expr(s"graft_topk(n, term, $k)").as("tops"))
          .collect()
          .map { r =>
            r.getString(0) -> r.getSeq[Row](1).map(x => (x.getString(0), x.getLong(1)))
          }.toMap
        assert(got.keySet == expected.keySet, s"trial $trial parts $parts: group set")
        expected.foreach { case (g, want) =>
          assert(got(g) == want,
            s"trial $trial parts $parts group $g: got ${got(g)}, want $want")
        }
      }
    }
  }

  test("graft_topk ignores null counts and null terms") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "g STRING, n BIGINT, term STRING")
    val rows = Seq(
      Row("a", 5L, "x"), Row("a", null, "dropme"), Row("a", 7L, null),
      Row("a", 3L, "y"))
    val got = spark.createDataFrame(rows.asJava, schema)
      .groupBy("g").agg(expr("graft_topk(n, term, 10)").as("tops"))
      .collect().head.getSeq[Row](1).map(x => (x.getString(0), x.getLong(1)))
    assert(got == Seq(("x", 5L), ("y", 3L)))
  }

  test("graft_topk rejects non-literal or out-of-range k at analysis") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("g STRING, n BIGINT, term STRING")
    val df = spark.createDataFrame(Seq(Row("a", 1L, "x")).asJava, schema)
    val e = intercept[Exception] {
      df.groupBy("g").agg(expr("graft_topk(n, term, 0)")).collect()
    }
    assert(e.getMessage.contains("[1, 1024]"), e.getMessage)
    val e2 = intercept[Exception] {
      df.groupBy("g").agg(expr("graft_topk(n, term, cast(n AS INT))")).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("literal"), e2.getMessage)
  }

  test("deserialize keeps the best k of a buffer holding more than k entries") {
    // a partial buffer is bytes: ones this class did not write (or wrote
    // under another k) must not grow the buffer past k
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val k = 4
    val agg = TopKByCount(BoundReference(0, LongType, nullable = true),
      BoundReference(1, StringType, nullable = true), Literal(k))
    val entries = Seq(3L -> "c", 9L -> "a", 1L -> "z", 9L -> "b", 5L -> "q",
      2L -> "m", 7L -> "x") // k + 3
    val terms = entries.map(_._2.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.allocate(4 + entries.size * 12 + terms.map(_.length).sum)
    bb.putInt(entries.size)
    entries.zip(terms).foreach { case ((n, _), t) => bb.putLong(n).putInt(t.length).put(t) }
    val out = agg.eval(agg.deserialize(bb.array()))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val got = (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }
    assert(got == Seq(("a", 9L), ("b", 9L), ("x", 7L), ("q", 5L)))
  }
}
