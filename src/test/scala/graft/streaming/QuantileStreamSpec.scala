package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streaming histogram (complete-mode aggregation state) read
  * through the batch extraction must equal batch `histogram_quantiles`
  * for any micro-batch split of the corpus. */
class QuantileStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def batchRows: Set[(String, Long, Long)] =
    SparkEntry.queries("histogram_quantiles")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def corpus: Seq[QObs] =
    graft.Tables.events(spark, Dir).selectExpr("event_type", "value").collect()
      .map(r => QObs(r.getString(0), r.getDouble(1))).toSeq

  private def run(batches: Seq[Seq[QObs]]): Set[(String, Long, Long)] = {
    import spark.implicits._
    QuantileStream.quantiles(StreamDriver.run(batches, "complete")(QuantileStream.histogram).rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("single batch equals the batch quantiles") {
    assert(batchRows.nonEmpty && run(Seq(corpus)) == batchRows)
  }

  test("any split (even shuffled within batches) converges to the batch quantiles") {
    val rng = new scala.util.Random(7)
    val shuffled = rng.shuffle(corpus)
    val parts = shuffled.grouped(shuffled.length / 3 + 1).toSeq
    assert(run(parts) == batchRows)
  }

  // ------------------------------------------------------------------
  // replay-gated tracker (at-least-once ordered CDC contract)
  // ------------------------------------------------------------------

  private def cdcCorpus: Seq[QEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("event_type", "value", "ts", "event_id").collect()
      .map(r => QEvent(r.getString(0), r.getDouble(1), r.getTimestamp(2), r.getLong(3)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def runTracked(batches: Seq[Seq[QEvent]]): Set[(String, Long, Long)] = {
    import spark.implicits._
    // downstream monoid rollup: sum of the emitted deltas IS the histogram
    val hist = StreamDriver.run(batches, "append")(QuantileStream.trackedDeltas).rows
      .groupBy("eventType", "cents").agg(org.apache.spark.sql.functions.sum("dc").as("c"))
      .withColumnRenamed("eventType", "event_type")
    QuantileStream.quantiles(hist).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("tracked: in-order splits WITH prefix replays converge to the batch quantiles") {
    val c = cdcCorpus
    val parts = c.grouped(c.length / 3 + 1).toSeq
    // batch 2 redelivers batch 1's tail; batch 3 redelivers ALL of batch 2
    val replayed = Seq(parts(0), parts(0).takeRight(40) ++ parts(1), parts(1) ++ parts(2))
    assert(batchRows.nonEmpty && runTracked(replayed) == batchRows)
  }

  test("tracked: a fully redelivered corpus emits nothing new") {
    val c = cdcCorpus
    assert(runTracked(Seq(c, c)) == batchRows)
  }
}
