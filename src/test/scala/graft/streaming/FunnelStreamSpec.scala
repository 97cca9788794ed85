package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streamed step completions, rolled up through the batch
  * conversion tail, must equal batch `funnel_report` for in-order
  * splits and prefix replays (the Scd2/Markov replay contract). */
class FunnelStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Row = (Long, String, Long, Long)

  private def batchRows: Seq[Row] =
    SparkEntry.queries("funnel_report")(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  private def corpus: Seq[FunnelEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("user_id", "ts", "event_id", "event_type").collect()
      .map(r => FunnelEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def run(batches: Seq[Seq[FunnelEvent]]): (Seq[Row], Long) = {
    import spark.implicits._
    val emitted = StreamDriver.run(batches, "append")(FunnelStream.completions).rows
    val rows = FunnelStream.report(emitted).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    (rows, emitted.count())
  }

  test("single batch equals the batch funnel report") {
    assert(batchRows.nonEmpty && run(Seq(corpus))._1 == batchRows)
  }

  test("in-order splits with prefix replays converge identically and re-emit nothing") {
    val parts = corpus.grouped(corpus.length / 3 + 1).toSeq
    val replayed = Seq(parts(0), parts(0).takeRight(40) ++ parts(1), parts(1) ++ parts(2))
    val (rows, emitted) = run(replayed)
    assert(rows == batchRows)
    // emission is at-most-once per (user, step): the lifetime count is
    // exactly the sum of per-step user counts, replays notwithstanding
    assert(emitted == batchRows.map(_._3).sum)
  }

  test("a fully redelivered corpus emits nothing new") {
    val (rows, emitted) = run(Seq(corpus, corpus))
    assert(rows == batchRows && emitted == batchRows.map(_._3).sum)
  }
}
