package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}
import graft.operators.{Dedup, Semantic}

/** The ingest gate's laws: streaming the batch audit's train relation
  * through micro-batches — in any split — must produce exactly the
  * batch `embedding_decontam` verdict per vector (parity by the shared
  * threshold core), every injected leak must be BLOCKED at the door,
  * and replay is idempotent (the verdict is a pure function of the
  * vector and the frozen suite — no state to corrupt). */
class DecontamStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  test("stream verdicts equal the batch audit; leaks blocked; replay idempotent") {
    import spark.implicits._
    // the batch audit's train relation as incoming vectors: corpus
    // minus the eval suite, plus the injected re-keyed leaks
    val all = graft.Tables.embeddings(spark, Dir)
      .select("vec_id", "embedding").collect()
      .map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
    val train = all.filter(_.vec_id >= Semantic.EvalN) ++
      all.filter(v => v.vec_id < Semantic.EvalN && v.vec_id % 2 == 0)
        .map(v => IncomingVec(v.vec_id + Dedup.ReKeyA, v.embedding))
    val batches = Seq(
      train.filter(_.vec_id % 2 == 0).toSeq,
      train.filter(_.vec_id % 2 != 0).toSeq,
      train.filter(_.vec_id % 2 == 0).toSeq) // replay of batch 1
    val seen = StreamDriver.collect(batches)(DecontamStream.start(_, Dir, "decontam-gate"))
      .map(_.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq)
    assert(seen.size == 3)
    assert(seen(2).sortBy(_._1) == seen(0).sortBy(_._1),
      "replayed batch must gate identically (stateless verdict)")
    val streamed = (seen(0) ++ seen(1)).sortBy(_._1)
    val batch = SparkEntry.queries("embedding_decontam")(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(streamed == batch, "stream/batch verdict parity broken")
    // every injected leak blocked at the door
    val blocked = streamed.filter(!_._3).map(_._1).toSet
    val leaks = (0L until Semantic.EvalN).filter(_ % 2 == 0)
      .map(_ + Dedup.ReKeyA).toSet
    assert(blocked == leaks, s"gate blocked $blocked, expected exactly $leaks")
  }
}
