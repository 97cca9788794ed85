package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.RawPage

/** End-to-end golden run of the composed chat pipeline over the
  * reference's own fixture pages: scrape → re-scrape-with-deletion →
  * both stores reflect the merged, deletion-stamped state. */
class ChatPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  private def fixture(name: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"/root/reference/test/scrapers/fixtures/$name.html")), "UTF-8")

  test("pages -> parse -> diff -> dual merge sinks, deletion stamped on re-scrape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatpipe").toString
    val msgStore = s"$dir/messages"
    val docStore = s"$dir/docs"

    // the complex page, and a re-scrape of the same page with message
    // 5363775 marked deleted (redstripes + undelChat, as the site shows)
    val page1 = fixture("chat_complex")
    val page2 = page1
      .replace("""<div class="chat-txt  " ><span style="color:gray">08:28:15 PM</span>""",
        """<div class="chat-txt  redstripes" ><span style="color:gray">08:28:15 PM</span>""")
      .replace("javascript:delChat(5363775)", "javascript:undelChat(5363775)")
    assert(page2 != page1)

    val in = MemoryStream[RawPage]
    val q = ChatPipeline.start(in.toDS(), Now, msgStore, docStore, intervalMs = 10)
    try {
      in.addData(RawPage("global", page1, new Timestamp(0)))
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(msgStore)
      assert(afterFirst.count() == 2) // both messages inserted

      in.addData(RawPage("global", page2, new Timestamp(0)))
      q.processAllAvailable()

      val msgs = spark.read.parquet(msgStore)
      assert(msgs.count() == 2) // merged, not appended
      val deleted = msgs.filter("id = '5363775'").collect().head
      assert(deleted.getAs[Boolean]("deleted"))
      assert(deleted.getAs[Timestamp]("deletedTs") != null) // A4 stamp survived the merge

      // doc store: flags dropped, mentions derived, same keys
      val docs = spark.read.parquet(docStore)
      assert(docs.count() == 2)
      assert(!docs.columns.contains("flags"))
      assert(docs.columns.contains("mentions"))
      val unchanged = docs.filter("id = '5363757'").collect().head
      assert(!unchanged.getAs[Boolean]("deleted"))
    } finally q.stop()
  }

  test("a micro-batch whose diff is empty writes no store file") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatpipe-empty")
    val stores = Seq(dir.resolve("messages"), dir.resolve("docs"))
    def snapshot() = stores.map { s =>
      val listing = Files.list(s)
      try listing.iterator().asScala.map(f => f.getFileName.toString ->
        Files.getLastModifiedTime(f)).toMap
      finally listing.close()
    }
    val page = RawPage("global", ChatPages.page(
      (1L to 3L).map(i => (i, Now.minusSeconds(300 - i)))), new Timestamp(0))
    val in = MemoryStream[RawPage]
    val q = ChatPipeline.start(in.toDS(), Now, stores(0).toString, stores(1).toString,
      intervalMs = 10)
    try {
      in.addData(page)
      q.processAllAvailable()
      assert(spark.read.parquet(stores(0).toString).count() == 3)
      val before = snapshot()
      // a re-scrape of the unchanged page: every message is already in
      // the diff state, so the micro-batch's diff is empty
      in.addData(page)
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      assert(snapshot() == before, "an empty diff must leave both stores' files as they were")
      assert(stores.forall(s => !Files.exists(java.nio.file.Paths.get(s.toString + ".tmp"))))
    } finally q.stop()
  }
}
