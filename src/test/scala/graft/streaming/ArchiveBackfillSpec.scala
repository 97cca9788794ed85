package graft.streaming

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Scans

/** Archive backfill through the LIVE pipeline: a directory of captured
  * pages streams in bounded micro-batches (`maxFilesPerTrigger`) under
  * `Trigger.AvailableNow`, drains through the same parse→diff→merge
  * path as live scraping, and the query STOPS when the backlog is
  * empty. The store must equal what the batch scan of the same archive
  * produces — backfill and live are one code path. */
class ArchiveBackfillSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  private def fixture(name: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"/root/reference/test/scrapers/fixtures/$name.html")), "UTF-8")

  test("AvailableNow backfill: bounded batches, terminates, store == batch parse") {
    val archive = Files.createTempDirectory("backfill")
    Files.writeString(archive.resolve("help__1.html"), fixture("chat_help"))
    Files.writeString(archive.resolve("global__1.html"), fixture("chat_complex"))
    Files.writeString(archive.resolve("global__2.html"), fixture("chat_long"))
    val out = Files.createTempDirectory("backfillout").toString
    val msgStore = s"$out/messages"
    val docStore = s"$out/docs"

    val pages = Scans.streamArchive(spark, archive.toString, maxFilesPerTrigger = 1)
    val q = ChatPipeline.start(pages, Now, msgStore, docStore,
      trigger = Some(Trigger.AvailableNow()))
    try assert(q.awaitTermination(120000), "AvailableNow query must stop after draining")
    finally if (q.isActive) q.stop()

    // ≥3 micro-batches ran (one file per trigger)
    assert(q.recentProgress.length >= 3,
      s"expected one bounded batch per file, got ${q.recentProgress.length}")

    val streamed = spark.read.parquet(msgStore)
      .select("room", "id", "username", "content", "deleted")
      .collect().map(_.toSeq).toSet
    val batch = Scans.chatScan(Scans.readArchive(spark, archive.toString), Now)
      .toDF().select("room", "id", "username", "content", "deleted")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, "backfill store must equal the batch parse of the archive")
    assert(spark.read.parquet(docStore).count() == batch.size)
  }

  test("a drain of more than 32 files per trigger lists its files without a Spark job") {
    // 40 rooms × 2 fetches: each trigger reads 40 new files, above the
    // default 32-path threshold at which a file read lists its paths
    // with a Spark job
    val archive = Files.createTempDirectory("backfill-wide")
    val posted = Now.minusSeconds(600)
    for (r <- 0 until 40; s <- 0 until 2) {
      val msgs = (0 to s).map(i => (r * 10L + i, posted.plusSeconds(i)))
      val f = archive.resolve(f"room$r%02d__$s.html")
      Files.writeString(f, ChatPages.page(msgs))
      f.toFile.setLastModified(posted.toEpochMilli + s * 1000L + r)
    }
    val out = Files.createTempDirectory("backfill-wide-out").toString
    val (q, jobs) = TestSpark.jobDescriptions {
      val q = ChatPipeline.start(
        Scans.streamArchive(spark, archive.toString, maxFilesPerTrigger = 40), Now,
        s"$out/messages", s"$out/docs", trigger = Some(Trigger.AvailableNow()))
      try assert(q.awaitTermination(120000), "AvailableNow query must stop after draining")
      finally if (q.isActive) q.stop()
      q
    }
    assert(q.recentProgress.count(_.numInputRows > 0) == 2, "one trigger per 40 files")
    val listing = jobs.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs ran: $listing")
    assert(spark.read.parquet(s"$out/messages").count() == 80)
  }
}
