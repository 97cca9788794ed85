package graft.sources

import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import Fixtures._

/** The distributed scan layer: Dataset[RawPage] → flatMap(parse) must
  * produce exactly what the sequential parsers produce, page-parallel. */
class ScansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  test("chatScan over multiple pages == per-page sequential parse") {
    import spark.implicits._
    val pages = Seq(
      RawPage("help", load("chat_help"), utc("2022-04-17T23:59:59Z")),
      RawPage("global", load("chat_complex"), utc("2022-04-17T23:59:59Z")),
      RawPage("trade", load("chat_deleted"), utc("2022-04-17T23:59:59Z"))).toDS()
      .repartition(3) // force page-parallelism
    val got = Scans.chatScan(pages, Now).collect().toSeq
    assert(got.length == 103)
    val expected =
      HtmlParsers.parseChat("help", load("chat_help"), Now) ++
        HtmlParsers.parseChat("global", load("chat_complex"), Now) ++
        HtmlParsers.parseChat("trade", load("chat_deleted"), Now)
    assert(got.sortBy(_.id) == expected.sortBy(_.id))
  }

  test("onlineScan + profileScan: the scrape_fanout shape end-to-end") {
    import spark.implicits._
    val online = Scans.onlineScan(
      Seq(RawPage("", load("members_staff"), utc("2022-04-17T23:59:59Z"))).toDS())
    assert(online.count() == 25)
    val profiles = Scans.profileScan(
      Seq(RawPage("RybeR", load("profile_ryber"), utc("2022-04-17T23:59:59Z"))).toDS(), Now)
    val snap = profiles.collect().head
    assert(snap.userId == 4153L && snap.isRanger)
  }

  test("readArchive: page-per-file backfill feeds the same parsers as the live stream") {
    val dir = java.nio.file.Files.createTempDirectory("archive")
    java.nio.file.Files.writeString(dir.resolve("help__0001.html"), load("chat_help"))
    java.nio.file.Files.writeString(dir.resolve("global__0002.html"), load("chat_complex"))
    java.nio.file.Files.writeString(dir.resolve("trade.html"), load("chat_deleted"))
    // each file's mtime is its page's fetch time: the test's frozen clock
    Seq("help__0001", "global__0002", "trade")
      .foreach(f => dir.resolve(s"$f.html").toFile.setLastModified(Now.toEpochMilli))
    val pages = Scans.readArchive(spark, dir.toString)
    assert(pages.collect().map(_.key).sorted.toSeq == Seq("global", "help", "trade"))
    val got = Scans.chatScan(pages, Now).collect().toSeq
    val expected =
      HtmlParsers.parseChat("help", load("chat_help"), Now) ++
        HtmlParsers.parseChat("global", load("chat_complex"), Now) ++
        HtmlParsers.parseChat("trade", load("chat_deleted"), Now)
    assert(got.sortBy(_.id) == expected.sortBy(_.id))
  }

  test("chatScan dates a page fetched 25 h before now to its messages' real day") {
    import spark.implicits._
    val posted = Now.minusSeconds(25 * 3600)
    val msgs = (1L to 3L).map(i => (i, posted.plusSeconds(i)))
    val page = RawPage("old", graft.streaming.ChatPages.page(msgs),
      java.sql.Timestamp.from(posted.plusSeconds(5)))
    val got = Scans.chatScan(Seq(page).toDS(), Now).collect()
      .map(m => m.id.toLong -> m.ts.toInstant).toMap
    assert(got == msgs.toMap)
  }

  test("mailboxScan + messageScan") {
    import spark.implicits._
    val rows = Scans.mailboxScan(
      Seq(RawPage("", load("mailbox"), utc("2022-04-17T23:59:59Z"))).toDS()).collect()
    assert(rows.length == 5 && rows.count(_.unread) == 2)
    val mail = Scans.messageScan(
      Seq(RawPage("100", load("message"), utc("2022-06-16T23:59:59Z"))).toDS(),
      Instant.parse("2022-06-16T23:59:59Z")).collect().head
    assert(mail.username == "Lazyforlife" && mail.subject == "trade ratio bot")
  }
}
