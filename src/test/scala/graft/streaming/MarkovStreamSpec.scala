package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streamed transition edges, counted, must equal the batch
  * markov_transitions matrix for in-order splits and prefix replays. */
class MarkovStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def batchMatrix: Map[(String, String), Long] =
    SparkEntry.queries("markov_transitions")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  private def corpus: Seq[MkvEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("user_id", "ts", "event_id", "event_type").collect()
      .map(r => MkvEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def run(batches: Seq[Seq[MkvEvent]]): Map[(String, String), Long] = {
    import spark.implicits._
    StreamDriver.run(batches, "append")(MarkovStream.transitions).rows.as[Transition].collect()
      .groupBy(t => (t.prevType, t.nextType)).view.mapValues(_.length.toLong).toMap
  }

  test("single batch equals the batch matrix") {
    assert(batchMatrix.nonEmpty && run(Seq(corpus)) == batchMatrix)
  }

  test("in-order splits with prefix replays converge identically") {
    val parts = corpus.grouped(corpus.length / 3 + 1).toSeq
    val replayed = Seq(parts(0), parts(0).takeRight(30) ++ parts(1), parts(1) ++ parts(2))
    assert(run(replayed) == batchMatrix)
  }
}
