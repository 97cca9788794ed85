package graft.streaming

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The frozen-model streaming scorer must reproduce the batch
  * selector exactly: a doc's (importance, keep) depends only on the
  * doc and the trained model, so replaying the training corpus through
  * micro-batches — in any split — yields the batch query's rows
  * bit-for-bit. That is the deployment contract (train once, score the
  * crawl as it arrives) and the parity is by shared scoring code. */
class DsirStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def key(r: Row): (Long, String, Long, Long, Long, Boolean) =
    (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getBoolean(5))

  test("replaying the corpus through micro-batches equals the batch selector") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, Dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => IncomingDoc(r.getLong(0), r.getString(1), r.getString(2)))
    // batches split by doc_id — arrival order must not matter
    val batches = Seq(
      docs.filter(_.doc_id % 3 == 0).toSeq,
      docs.filter(_.doc_id % 3 == 1).toSeq,
      docs.filter(_.doc_id % 3 == 2).toSeq)
    val outs = StreamDriver.collect(batches)(DsirStream.start(_, Dir, "dsir-parity"))
    val streamed = outs.flatten.map(key).toSet
    val batch = SparkEntry.queries("dsir_select")(spark, Dir)
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs " +
        s"${(batch diff streamed).take(3)}")
    // micro-batches partition the doc space: no doc scored twice
    val ids = outs.flatten.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "a doc was scored in two batches")
  }

  test("a doc whose grams miss every trained bucket still scores — at the neutral ratio") {
    import spark.implicits._
    // the reference corpus populates a fraction of the 8192-bucket
    // space; search for a single bigram whose hashed bucket the
    // trained model never saw (adaptive — a fixed probe phrase would
    // hit a trained bucket with high probability)
    val (model, _) = graft.operators.TrainingMix.dsirModel(spark, Dir)
    val trained = model.select("b").collect().map(_.getLong(0)).toSet
    val candidates = (1 to 400).map(i => s"zzqa$i zzqb$i")
    val hit = candidates.find { text =>
      val b = spark.sql(
        s"SELECT graft_winhash(split('$text', ' '), 2)[0] % 8192 AS b")
        .collect().head.getLong(0)
      !trained.contains(b)
    }
    assert(hit.nonEmpty, "no untrained bucket in 400 probes — model suspiciously full")
    val outs = StreamDriver.collect(Seq(Seq(IncomingDoc(900001L, "xx", hit.get))))(
      DsirStream.start(_, Dir, "dsir-novel"))
    val rows = outs.flatten
    assert(rows.length == 1,
      s"the all-novel doc must still be scored (inner-join regression): ${rows.length} rows")
    // every gram coalesces to the add-one neutral ratio 10^6, so the
    // importance mean is exactly 10^6
    assert(rows.head.getLong(3) == 1000000L,
      s"all-unseen grams must score the neutral ratio: ${rows.head}")
  }
}
