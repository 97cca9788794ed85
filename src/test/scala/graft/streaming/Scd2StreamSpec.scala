package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streaming SCD2 builder's authoritative fold (per (user,
  * version), closed row supersedes open) must equal the batch
  * `scd2_history` for in-order delivery through ANY batch split, with
  * at-least-once prefix replays — the delivery contract a keyed CDC
  * log provides. */
class Scd2StreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Row = (Long, String, Timestamp, Option[Timestamp], Long, Boolean)

  private def batchRows: Set[Row] =
    SparkEntry.queries("scd2_history")(spark, Dir).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4), r.getBoolean(5))).toSet

  /** Corpus in global (ts, event_id) order — per-key order follows. */
  private def corpus: Seq[ScdEvent] =
    graft.Tables.events(spark, Dir)
      .selectExpr("user_id", "ts", "event_id", "event_type").collect()
      .map(r => ScdEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(e => (e.ts.getTime, e.eventId))

  private def run(batches: Seq[Seq[ScdEvent]]): Set[Row] = {
    import spark.implicits._
    val rows = StreamDriver.run(batches, "append")(Scd2Stream.versions).rows.as[ScdVersion].collect()
    // authoritative fold: closed row supersedes the open emission
    rows.groupBy(v => (v.userId, v.version)).values.map { vs =>
      val v = vs.find(_.validTo.isDefined).getOrElse(vs.head)
      (v.userId, v.eventType, v.validFrom, v.validTo, v.version, v.isCurrent)
    }.toSet
  }

  test("single batch equals batch scd2_history bit-for-bit") {
    assert(batchRows.nonEmpty && run(Seq(corpus)) == batchRows)
  }

  test("any in-order batch split converges identically") {
    val parts = corpus.grouped(corpus.length / 4 + 1).toSeq
    assert(run(parts) == batchRows)
  }

  test("at-least-once prefix replay is idempotent") {
    val parts = corpus.grouped(corpus.length / 3 + 1).toSeq
    // redeliver the whole first batch inside the second, plus a tail
    // fragment of the second inside the third
    val replayed = Seq(parts(0), parts(0) ++ parts(1), parts(1).takeRight(20) ++ parts(2))
    assert(run(replayed) == batchRows)
  }
}
