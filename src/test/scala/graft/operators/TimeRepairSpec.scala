package graft.operators

import java.time.{Instant, LocalTime, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.{Fixtures, HtmlParsers}

/** W3: the windowed `monotonicRepair` must reproduce the reference's
  * sequential cascade semantics EXACTLY — proven by replaying the
  * reference's hardest golden test (the 3-day rollover page,
  * test/scrapers/test_chat.py:132-162) through the window formulation
  * and comparing against the golden UTC instants. */
class TimeRepairSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("windowed repair == reference 3-day cascade golden (test_chat.py:132-162)") {
    import spark.implicits._
    // time-of-day strings exactly as the rollover fixture shows them,
    // in document order (newest first)
    val fixture = Fixtures.load("chat_day_rollover")
    val todsShown = """<span style="color:gray">([^<]+)</span>""".r
      .findAllMatchIn(fixture).map(_.group(1).trim).toSeq
    assert(todsShown.length == 9)
    val fmt12 = DateTimeFormatter.ofPattern("hh:mm:ss a", Locale.US)
    val tods = todsShown.map(s => LocalTime.parse(s, fmt12).toString) // HH:mm:ss

    // now = freeze_time("2022-06-20 05:20:00") UTC, in server time
    val serverNow = ZonedDateTime.ofInstant(
      Instant.parse("2022-06-20T05:20:00Z"), HtmlParsers.ServerTz)
    val anchorDate = serverNow.toLocalDate.toString // 2022-06-20
    val nowTod = serverNow.toLocalTime.withNano(0).toString // 00:20:00

    // document order: docOrder DESC = newest first
    val df = tods.zipWithIndex
      .map { case (tod, i) => (1L, (tods.length - i).toLong, tod) }
      .toDF("page", "doc_order", "tod")
    val repaired = TimeRepair
      .monotonicRepair(df, "page", "doc_order", "tod", anchorDate, nowTod)
      // repaired_ts is server-local wall time; golden values are UTC
      .withColumn("utc", to_utc_timestamp(col("repaired_ts"), "America/Chicago"))
      .orderBy(col("doc_order").desc)
      .select(col("utc")).as[java.sql.Timestamp].collect().toSeq

    val golden = Seq(
      "2022-06-20T04:53:17Z", "2022-06-20T04:52:18Z", "2022-06-20T04:00:30Z",
      "2022-06-20T03:57:41Z", "2022-06-19T05:11:01Z", "2022-06-19T05:05:47Z",
      "2022-06-19T03:30:23Z", "2022-06-18T16:29:50Z", "2022-06-18T15:33:55Z")
      .map(s => java.sql.Timestamp.from(Instant.parse(s)))
    assert(repaired == golden)
  }
}
