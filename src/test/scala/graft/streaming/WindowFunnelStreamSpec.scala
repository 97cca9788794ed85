package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streamed level-ups, rolled up through the shared conversion
  * tail, must equal batch `window_funnel` for in-order splits and
  * prefix replays, with at-most-once emission per (user, level). */
class WindowFunnelStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Row = (Long, String, Long, Long)

  private def batchRows: Seq[Row] =
    SparkEntry.queries("window_funnel")(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  private def corpus: Seq[FunnelEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("user_id", "ts", "event_id", "event_type").collect()
      .map(r => FunnelEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def run(batches: Seq[Seq[FunnelEvent]]): (Seq[Row], Long) = {
    import spark.implicits._
    val emitted = StreamDriver.run(batches, "append")(WindowFunnelStream.levelUps).rows
    val rows = WindowFunnelStream.report(emitted).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    (rows, emitted.count())
  }

  test("single batch equals the batch window_funnel report") {
    assert(batchRows.nonEmpty && run(Seq(corpus))._1 == batchRows)
  }

  test("in-order splits with prefix replays converge identically and re-emit nothing") {
    val parts = corpus.grouped(corpus.length / 3 + 1).toSeq
    val replayed = Seq(parts(0), parts(0).takeRight(50) ++ parts(1), parts(1) ++ parts(2))
    val (rows, emitted) = run(replayed)
    assert(rows == batchRows)
    // at-most-once per (user, level): lifetime emission = Σ level counts
    assert(emitted == batchRows.map(_._3).sum)
  }

  test("a fully redelivered corpus emits nothing new") {
    val (rows, emitted) = run(Seq(corpus, corpus))
    assert(rows == batchRows && emitted == batchRows.map(_._3).sum)
  }

  test("off-inventory event types sharing a step's initial never match (r19 ADVICE)") {
    import spark.implicits._
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000L)
    // 'checkout' and 'pageview' collide with 'click'/'purchase'/'view'
    // on first letters — under exact-name matching the user converts
    // exactly once per level via the REAL steps, decoys ignored
    val evs = Seq(
      FunnelEvent(1L, ts(0), 1L, "pageview"),  // decoy 'p' before any view
      FunnelEvent(1L, ts(1), 2L, "view"),
      FunnelEvent(1L, ts(2), 3L, "checkout"),  // decoy 'c' — must not level-up
      FunnelEvent(1L, ts(3), 4L, "click"),
      FunnelEvent(1L, ts(4), 5L, "purchase"))
    val got = StreamDriver.run(Seq(evs), "append")(WindowFunnelStream.levelUps).rows.collect()
      .map(r => (r.getLong(1), r.getTimestamp(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, ts(1)), (2L, ts(3)), (3L, ts(4))),
      s"decoy initials leaked into the funnel: $got")
  }
}
