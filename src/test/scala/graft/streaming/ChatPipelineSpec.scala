package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Measure, NioLocalFileSystem, TestSpark}
import graft.sources.{Fixtures, RawPage}

/** End-to-end golden run of the composed chat pipeline over the
  * reference's own fixture pages: scrape → re-scrape-with-deletion →
  * both stores reflect the merged, deletion-stamped state. The specs
  * after the first run on generated pages ([[ChatPages]]). */
class ChatPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  /** One fetch of room `global` showing messages 1..`upTo`, posted a
    * second apart five minutes before `Now`; `deleted` show as deleted. */
  private def fetch(upTo: Long, deleted: Set[Long] = Set.empty) =
    RawPage("global", ChatPages.page((1L to upTo).map(i => (i, Now.minusSeconds(300 - i))),
      deleted), Timestamp.from(Now))

  /** A store's rows as sorted strings. */
  private def rows(store: String): Seq[String] =
    spark.read.parquet(store).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The message and doc store paths under `dir`. */
  private def stores(dir: Path) = Seq(dir.resolve("messages").toString, dir.resolve("docs").toString)

  /** The pipeline over `in`, writing under `dir` with its checkpoint there. */
  private def start(in: MemoryStream[RawPage], dir: Path): StreamingQuery = {
    val Seq(msgs, docs) = stores(dir)
    ChatPipeline.start(in.toDS(), Now, msgs, docs, intervalMs = 10,
      checkpoint = Some(dir.resolve("checkpoint").toString))
  }

  test("pages -> parse -> diff -> dual merge sinks, deletion stamped on re-scrape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatpipe").toString
    val msgStore = s"$dir/messages"
    val docStore = s"$dir/docs"

    // the complex page, and a re-scrape of the same page with message
    // 5363775 marked deleted (redstripes + undelChat, as the site shows)
    val page1 = Fixtures.load("chat_complex")
    val page2 = page1
      .replace("""<div class="chat-txt  " ><span style="color:gray">08:28:15 PM</span>""",
        """<div class="chat-txt  redstripes" ><span style="color:gray">08:28:15 PM</span>""")
      .replace("javascript:delChat(5363775)", "javascript:undelChat(5363775)")
    assert(page2 != page1)

    val in = MemoryStream[RawPage]
    val q = ChatPipeline.start(in.toDS(), Now, msgStore, docStore, intervalMs = 10)
    try {
      in.addData(RawPage("global", page1, Timestamp.from(Now)))
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(msgStore)
      assert(afterFirst.count() == 2) // both messages inserted

      in.addData(RawPage("global", page2, Timestamp.from(Now)))
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

  test("a page fetched a second after the pipeline's now stores that second's messages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatpipe-live")
    val in = MemoryStream[RawPage]
    val q = start(in, dir)
    val earlier = (1L to 5L).map(i => (i, Now.minusSeconds(600 - 100 * i)))
    // posted in the second after Now: parsed against Now, its time of day
    // lies in the future, so it would be dated a day early
    val posted = Now.plusSeconds(1)
    val later = (6L to 9L).map(i => (i, posted))
    try {
      in.addData(RawPage("global", ChatPages.page(earlier), Timestamp.from(Now)))
      q.processAllAvailable()
      in.addData(RawPage("global", ChatPages.page(earlier ++ later),
        Timestamp.from(posted.plusMillis(500))))
      q.processAllAvailable()
    } finally q.stop()
    for (store <- stores(dir)) {
      val ts = spark.read.parquet(store).select("id", "ts").as[(String, Timestamp)].collect().toMap
      assert(later.forall { case (i, at) => ts.get(i.toString).contains(Timestamp.from(at)) },
        s"$store: messages 6-9 posted at $posted stored as ${(6 to 9).map(i => ts.get(i.toString))}")
    }
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
      (1L to 3L).map(i => (i, Now.minusSeconds(300 - i)))), Timestamp.from(Now))
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

  test("a micro-batch that sees a message live, then deleted, stores it deleted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatpipe-twice")
    val in = MemoryStream[RawPage]
    val q = start(in, dir)
    try {
      // one trigger holds two fetches of the room; the second shows
      // message 7 deleted
      in.addData(fetch(7), fetch(7, deleted = Set(7L)))
      q.processAllAvailable()
      for (store <- stores(dir)) {
        val m7 = spark.read.parquet(store).filter("id = '7'").collect().head
        assert(m7.getAs[Boolean]("deleted"), s"$store holds the first fetch's version: $m7")
        assert(m7.getAs[Timestamp]("deletedTs") == m7.getAs[Timestamp]("ts"),
          s"$store holds no deletion stamp: $m7")
      }
      // a later re-scrape of the deleted page: the diff state already
      // holds the deletion, so it changes nothing
      val before = stores(dir).map(rows)
      in.addData(fetch(7, deleted = Set(7L)))
      q.processAllAvailable()
      assert(stores(dir).map(rows) == before)
    } finally q.stop()
  }

  test("a data micro-batch computes the diff once, in at most 5 jobs, all of its batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawPage]
    val q = start(in, Files.createTempDirectory("chatpipe-jobs"))
    try {
      in.addData(fetch(5))
      q.processAllAvailable()
      val (_, run) = Measure(spark) {
        in.addData(fetch(7, deleted = Set(2L)))
        q.processAllAvailable()
      }
      // a stage that reads shuffled rows into the state store computes
      // the diff; a stage that reads the cached batch reads no shuffle
      val diffRuns = run.stages.count(s =>
        s.rddNames.contains("StateStoreRDD") && s.shuffleReadRecords > 0)
      val jobs = run.jobs
      val batch = q.recentProgress.filter(_.numInputRows > 0).last.batchId
      val batchJobs = jobs.filter(_.endsWith(s"batch = $batch"))
      assert(diffRuns == 1, s"the diff ran $diffRuns times")
      assert(batchJobs.size <= 5, s"${batchJobs.size} jobs in batch $batch")
      // jobs of the second merge thread carry the stream's description too
      assert(jobs.forall(_.contains(s"runId = ${q.runId}")), s"jobs outside the stream: $jobs")
    } finally q.stop()
  }

  test("a data micro-batch ships its keys to the merges without a job") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RawPage]
    val q = start(in, Files.createTempDirectory("chatpipe-keys"))
    try {
      in.addData(fetch(5))
      q.processAllAvailable()
      val (_, run) = Measure(spark) {
        in.addData(fetch(7, deleted = Set(2L)))
        q.processAllAvailable()
      }
      // a local relation is read through a parallelize; the page source's
      // one feeds the diff's shuffle, a broadcast of local key rows feeds
      // none
      val shipped = run.stages.filter(s =>
        s.rddNames.contains("ParallelCollectionRDD") && s.shuffleWriteRecords == 0)
      assert(shipped.isEmpty, s"stages of a local relation: $shipped")
    } finally q.stop()
  }

  test("a failed doc-store merge stops the query after the message merge; a restart replays it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(fetch(5), fetch(7, deleted = Set(2L)))
    val clean = Files.createTempDirectory("chatpipe-clean")
    val cleanIn = MemoryStream[RawPage]
    val cleanQ = start(cleanIn, clean)
    try batches.foreach { b => cleanIn.addData(b); cleanQ.processAllAvailable() }
    finally cleanQ.stop()

    val dir = Files.createTempDirectory("chatpipe-fail")
    val docs = dir.resolve("docs")
    val saved = dir.resolve("docs.saved")
    val in = MemoryStream[RawPage]
    val q = start(in, dir)
    try {
      in.addData(batches(0))
      q.processAllAvailable()
      // a regular file at the doc store's path fails its next merge
      Files.move(docs, saved)
      Files.writeString(docs, "not a store")
      in.addData(batches(1))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[java.nio.file.NotDirectoryException] &&
        c.getMessage.contains(docs.toString)), s"stopped with $e")
    } finally q.stop()
    assert(rows(stores(dir).head) == rows(stores(clean).head),
      "the query stopped before the message-store merge returned")

    Files.delete(docs)
    Files.move(saved, docs)
    val again = start(in, dir)
    try again.processAllAvailable() finally again.stop()
    assert(stores(dir).map(rows) == stores(clean).map(rows))
  }

  test("a chat micro-batch starts no OS process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(local.getRaw.isInstanceOf[NioLocalFileSystem.Raw],
      s"file:// resolves to ${local.getRaw.getClass.getName}")
    val in = MemoryStream[RawPage]
    val q = start(in, Files.createTempDirectory("chatpipe-forks"))
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      in.addData(fetch(5))
      q.processAllAvailable()
      in.addData(fetch(7, deleted = Set(2L)))
      q.processAllAvailable()
      rec.stop()
      val dump = Files.createTempFile("chatpipe-forks", ".jfr")
      rec.dump(dump)
      val started = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map { e =>
        val frames = e.getStackTrace.getFrames.asScala.map(f =>
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        (e.getString("command"), e.getThread("eventThread").getJavaName, frames)
      }
      // Spark's own housekeeping, not a micro-batch's work, and timed by
      // the JVM rather than by the batch: the JDK Cleaner thread deletes
      // the artifact directory of a session clone the GC collected
      // (persist() clones one per call) with a forked `rm -rf`, and the
      // first executor heartbeat of a JVM reads the page size with
      // `getconf`
      val housekeeping = Seq("org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner",
        "org.apache.spark.executor.ProcfsMetricsGetter")
      val forked = started.filterNot(_._3.exists(f => housekeeping.exists(f.startsWith)))
      assert(forked.isEmpty, s"${forked.size} processes started:\n" + forked.map {
        case (cmd, thread, frames) => s"$cmd on $thread from ${frames.take(12).mkString(" < ")}"
      }.mkString("\n"))
    } finally {
      rec.close()
      q.stop()
    }
  }
}
