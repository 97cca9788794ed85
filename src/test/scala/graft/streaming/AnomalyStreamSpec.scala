package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streaming daily histogram (complete-mode state) read through
  * the batch MAD extraction must equal batch `anomaly_mad` for any
  * micro-batch split. */
class AnomalyStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Row = (String, Timestamp, Long, Long, Long, Boolean)

  private def batchRows: Set[Row] =
    SparkEntry.queries("anomaly_mad")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet

  private def corpus: Seq[VolObs] =
    graft.Tables.events(spark, Dir).selectExpr("event_type", "ts").collect()
      .map(r => VolObs(r.getString(0), r.getTimestamp(1))).toSeq

  /** The MAD flags of a histogram; the driver's rows are a snapshot, so
    * madOfDaily may join the histogram with itself, and a monitoring
    * reader snapshots its baseline anyway. */
  private def flagRows(hist: org.apache.spark.sql.DataFrame): Set[Row] =
    AnomalyStream.flags(hist).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet

  private def run(batches: Seq[Seq[VolObs]]): Set[Row] = {
    import spark.implicits._
    flagRows(StreamDriver.run(batches, "complete")(AnomalyStream.daily).rows)
  }

  test("single batch equals batch anomaly_mad") {
    assert(batchRows.nonEmpty && run(Seq(corpus)) == batchRows)
  }

  test("any shuffled split converges to the batch flags") {
    val rng = new scala.util.Random(11)
    val parts = rng.shuffle(corpus).grouped(corpus.length / 3 + 1).toSeq
    assert(run(parts) == batchRows)
  }

  // ------------------------------------------------------------------
  // replay-gated tracker (at-least-once ordered CDC contract)
  // ------------------------------------------------------------------

  private def cdcCorpus: Seq[VolEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("event_type", "ts", "event_id").collect()
      .map(r => VolEvent(r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def runTracked(batches: Seq[Seq[VolEvent]]): Set[Row] = {
    import spark.implicits._
    // downstream monoid rollup: sum of emitted deltas IS the daily histogram
    flagRows(StreamDriver.run(batches, "append")(AnomalyStream.trackedDeltas).rows
      .groupBy("eventType", "day").agg(org.apache.spark.sql.functions.sum("dn").as("n"))
      .withColumnRenamed("eventType", "event_type"))
  }

  test("tracked: in-order splits WITH prefix replays converge to the batch flags") {
    val c = cdcCorpus
    val parts = c.grouped(c.length / 3 + 1).toSeq
    val replayed = Seq(parts(0), parts(0).takeRight(40) ++ parts(1), parts(1) ++ parts(2))
    assert(batchRows.nonEmpty && runTracked(replayed) == batchRows)
  }

  test("tracked: a fully redelivered corpus emits nothing new") {
    val c = cdcCorpus
    assert(runTracked(Seq(c, c)) == batchRows)
  }
}
