package graft.streaming

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The frozen-codebook streaming encoder must reproduce the batch
  * encode exactly: a vector's codes depend only on the vector and the
  * trained codebooks, so replaying the corpus through micro-batches —
  * in any split — yields the batch projection's rows bit-for-bit, and
  * two independent trainings freeze the identical codebook (the
  * deterministic seed draw + fixed Lloyd rounds). */
class PqStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def key(r: Row): (Long, Long, Long, Long, Long) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))

  test("replaying the corpus through micro-batches equals the batch encode") {
    import spark.implicits._
    val vecs = graft.Tables.embeddings(spark, Dir)
      .select("vec_id", "embedding").collect()
      .map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
    val batches = Seq(
      vecs.filter(_.vec_id % 3 == 0).toSeq,
      vecs.filter(_.vec_id % 3 == 1).toSeq,
      vecs.filter(_.vec_id % 3 == 2).toSeq)
    val outs = StreamDriver.collect(batches)(PqStream.start(_, Dir, "pq-parity"))
    val streamed = outs.flatten.map(key).toSet
    val cents = graft.operators.Semantic.pqTrainOn(spark, Dir)
    val batch = graft.operators.Semantic.pqEncode(
      graft.Tables.embeddings(spark, Dir).select("vec_id", "embedding"), cents)
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs " +
        s"${(batch diff streamed).take(3)}")
    // micro-batches partition the vector space: no vector encoded twice
    val ids = outs.flatten.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "a vector was encoded in two batches")
    // every code references a live codebook entry
    val valid = cents.map(_.map(_._1).toSet)
    outs.flatten.foreach { r =>
      (0 until graft.operators.Semantic.PqM).foreach { m =>
        assert(valid(m).contains(r.getLong(m + 1)),
          s"vec ${r.getLong(0)}: code ${r.getLong(m + 1)} not in subspace $m's codebook")
      }
    }
  }
}
