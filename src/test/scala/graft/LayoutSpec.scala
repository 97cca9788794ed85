package graft

import java.nio.file.Files
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.{Fixtures, HtmlParsers}

/** Physical layout must actually prune: partition filters on room reach
  * the scan (directory pruning), and a room+time query reads a pruned
  * schema — the columnar replacement for the reference's secondary
  * indexes (SURVEY §4). */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("partitioned layout: room filter becomes a PartitionFilter, not a data filter") {
    import spark.implicits._
    val now = Instant.parse("2022-04-17T23:59:59Z")
    val fixture = Fixtures.load("chat_help")
    val helpMsgs = HtmlParsers.parseChat("help", fixture, now)
    val cutoff = java.sql.Timestamp.from(Instant.parse("2022-04-17T01:00:00Z"))
    val expected = helpMsgs.count(m => !m.ts.before(cutoff))
    val msgs = (helpMsgs ++ HtmlParsers.parseChat("global", fixture, now)).toDS().toDF()
    val dir = Files.createTempDirectory("layout").toString + "/messages"
    Layout.writeMessages(msgs, dir)

    // partition directories exist
    val rooms = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("room="))
    assert(rooms.toSet == Set("room=help", "room=global"))

    val q = spark.read.parquet(dir)
      .filter("room = 'help' AND ts >= timestamp'2022-04-17 01:00:00'")
      .select("id", "ts")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("room"),
      s"room filter should prune partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"),
      s"ts range should push to row-group stats:\n$plan")
    assert(expected > 0 && q.count() == expected)
  }
}
