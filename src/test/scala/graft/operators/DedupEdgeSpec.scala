package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Degenerate inputs for the CC core. The sum-based convergence check
  * compares exact decimal label sums between rounds; `sum()` over zero
  * rows is NULL, so the empty corpus is the one input where the sum is
  * not a number — it must coalesce to 0 and converge immediately, not
  * NPE in `compareTo`.
  */
class DedupEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("clusterLabelsOf on an empty relation returns empty without NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup.clusterLabelsOf(empty)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(out.count() == 0)
  }

  test("exact_substr has no token-position bound: a past-2^21 position detects") {
    import spark.implicits._
    // r19: the packed doc_id·2^21+pos key (and its raise_error guard)
    // is gone — the duplicate test is a count window over the gram
    // hash, so positions past the old bound must WORK, not raise.
    // Planting the repeated run at the very end of a 2^21+26-token doc
    // puts its positions past 2^21; the twin doc repeats the run.
    val n = (1 << 21) + 16
    val run = (0 until 10).map(i => s"r$i").mkString(" ")
    val big = Seq(
      (7L, Array.tabulate(n)(i => s"u7x$i").mkString(" ") + " " + run),
      (8L, Array.tabulate(20)(i => s"u8x$i").mkString(" ") + " " + run))
      .toDF("doc_id", "text")
    val out = Dedup.substrSpansOf(big).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out == Seq((7L, n.toLong, n.toLong + 10, 1L), (8L, 20L, 30L, 1L)),
      s"expected the planted run at both occurrences, got: $out")
  }

  test("clusterLabelsOf on a single doc labels it with itself") {
    import spark.implicits._
    val one = Seq((42L, "just one document about spark shuffles")).toDF("doc_id", "text")
    val out = Dedup.clusterLabelsOf(one).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((42L, 42L)))
  }
}
