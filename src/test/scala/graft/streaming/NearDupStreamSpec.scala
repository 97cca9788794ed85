package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}
import graft.operators.Dedup

/** The incremental near-dup gate's laws: probing the frozen LSH index
  * with the corpus's own documents — in any micro-batch split, with
  * at-least-once duplication — recovers exactly the batch
  * `minhash_lsh_candidates` pair set (parity by the shared
  * signature/banding projections), and replay is idempotent (zero
  * streaming state; the candidate set is a pure function of the doc
  * and the frozen index). */
class NearDupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  test("streamed corpus recovers the batch candidate set; replay idempotent") {
    import spark.implicits._
    val docs = Dedup.withNearDupes(spark, Dir)
      .collect().map(r => NearDupDoc(r.getLong(0), r.getString(1)))
    // odd/even split, then a full replay of the first batch
    val batches = Seq(
      docs.filter(_.doc_id % 2 == 0).toSeq,
      docs.filter(_.doc_id % 2 != 0).toSeq,
      docs.filter(_.doc_id % 2 == 0).toSeq)
    val seen = StreamDriver.collect(batches)(NearDupStream.start(_, Dir, "near-dup-gate"))
      .map(_.map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(seen.size == 3)
    assert(seen(2) == seen(0), "replayed batch must probe identically (stateless)")
    // normalize both sides to unordered pairs: the stream reports each
    // batch pair twice (once per arriving endpoint), the batch query
    // once
    val streamed = (seen(0) ++ seen(1)).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val batch = SparkEntry.queries("minhash_lsh_candidates")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(streamed == batch, "stream/batch candidate-set parity broken")
    assert(batch.nonEmpty, "vacuous parity: the near-dup corpus must produce candidates")
    // every synthetic near-dup must be caught at the door: each re-keyed
    // doc (id ≥ ReKeyA) is a candidate against its source (id − ReKeyA)
    val rekeyed = docs.map(_.doc_id).filter(_ >= Dedup.ReKeyA)
    assert(rekeyed.nonEmpty)
    rekeyed.foreach { id =>
      assert(streamed.contains((id - Dedup.ReKeyA, id)),
        s"planted near-dup $id not caught against its source")
    }
  }
}
