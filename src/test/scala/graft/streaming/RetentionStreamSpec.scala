package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streaming retention tracker's authoritative fold (per user,
  * keep cells of the MIN cohortWeek, distinct offsets) must equal the
  * batch `retention_cohorts` triangle for in-order, shuffled,
  * duplicated, AND late-cohort deliveries — the last being the case
  * that exercises the re-base/re-emit correction path. */
class RetentionStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** (cohort_week, week_offset) -> n_active from the batch query. */
  private def batchTriangle: Map[(Timestamp, Long), Long] =
    SparkEntry.queries("retention_cohorts")(spark, Dir).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def corpus: Array[RetEvent] =
    graft.Tables.events(spark, Dir).selectExpr("user_id", "ts").collect()
      .map(r => RetEvent(r.getLong(0), r.getTimestamp(1)))

  /** Run the stream and apply the authoritative fold. */
  private def run(batches: Seq[Seq[RetEvent]]): Map[(Timestamp, Long), Long] = {
    import spark.implicits._
    val cells = StreamDriver.run(batches, "append")(RetentionStream.cells).rows.as[RetCell].collect()
    // per user: min cohort supersedes; distinct offsets under it
    cells.groupBy(_.userId).toSeq.flatMap { case (_, cs) =>
      val c0 = cs.map(_.cohortWeek).minBy(_.getTime)
      cs.filter(_.cohortWeek == c0).map(c => (c0, c.weekOffset)).distinct
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("one-batch replay equals the batch triangle") {
    val got = run(Seq(corpus.toSeq))
    assert(batchTriangle.nonEmpty && got == batchTriangle)
  }

  test("shuffled splits + duplication converge identically") {
    val rng = new scala.util.Random(42)
    val shuffled = rng.shuffle(corpus.toSeq)
    val parts = shuffled.grouped(shuffled.length / 3 + 1).toSeq
    val withDup = parts.head ++ parts.head.take(15)
    assert(run(withDup +: parts.tail) == batchTriangle)
  }

  test("a late earlier event re-bases the cohort and corrects the triangle") {
    // deliver each user's EARLIEST-week events LAST: every multi-week
    // user exercises the re-base path, and the fold must still equal
    // the batch triangle exactly
    val byWeek = corpus.toSeq.sortBy(e => -RetentionStream.weekIndex(e.ts))
    val parts = byWeek.grouped(byWeek.length / 4 + 1).toSeq
    assert(run(parts) == batchTriangle,
      "late-cohort correction diverged from batch")
  }
}
