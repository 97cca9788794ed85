package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.sources.{ChatMessage, HtmlParsers, RawPage, Scans}
import graft.streaming.{ChatPipeline, MergeSink}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** `chat_backfill`: the composed chat pipeline drains a generated page
  * archive (70 rooms, one page per room per archived second, so one
  * micro-batch carries what one 1-s live trigger carries at 10× the
  * reference's 7 rooms) into message and doc stores preloaded with
  * history rows. Timed from `ChatPipeline.start` to the query's end. */
object ChatWorkload {
  val Rooms = 70
  val ArchivedSeconds = 5
  val HistoryRows = 100000

  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def backfill(spark: SparkSession, tracer: Tracer, a: Main.Args): Main.Result = {
    import spark.implicits._
    val work = Paths.get(a.work)
    val archive = work.resolve("archive")
    val msgStore = work.resolve("store/messages").toString
    val docStore = work.resolve("store/docs").toString
    // ---- set-up: generate the archive, preload both stores
    val gen = new ChatGen(a.seed, Rooms, ArchivedSeconds, HistoryRows)
    Main.mark("generated")
    Files.createDirectories(archive)
    var archiveBytes = 0L
    for (s <- 0 until gen.seconds; r <- 0 until gen.rooms) {
      val f = archive.resolve(gen.fileName(s, r))
      val bytes = gen.pages(s)(r).getBytes("UTF-8")
      Files.write(f, bytes)
      archiveBytes += bytes.length
      f.toFile.setLastModified(gen.fetchedAtMs(s, r))
    }
    Main.mark("archive_written")
    val hist = gen.history.map(gen.preload).toSeq.toDS().toDF()
    hist.write.parquet(msgStore)
    ChatPipeline.toDocRows(hist).write.parquet(docStore)
    // the traced run keeps a copy of the preloaded store for its direct merges
    if (tracer.enabled) hist.write.parquet(msgStore + "-preload")
    Main.mark("preloaded")
    val setupS = Main.uptimeS()
    Main.mark("setup")

    // ---- timed: AvailableNow backfill, one room-second of pages per batch
    val progress = new Progress
    spark.streams.addListener(progress)
    val runSpan = tracer.newId()
    val t0 = System.nanoTime()
    val startMs = tracer.now()
    var constructS = 0.0
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val w0 = tracer.warnLines.sum()
    val drainSpan = tracer.span(spark, runSpan, "drain", "drain", "chat-pipeline") { id =>
      val q = ChatPipeline.start(
        Scans.streamArchive(spark, archive.toString, maxFilesPerTrigger = gen.rooms),
        gen.now, msgStore, docStore, trigger = Some(Trigger.AvailableNow()),
        checkpoint = Some(work.resolve("checkpoint").toString))
      constructS = (System.nanoTime() - t0) / 1e9
      q.awaitTermination()
      id
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    Main.mark("timed")
    val codegenNs = CodeGenerator.compileTime - cg0
    val codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    val warnLines = tracer.warnLines.sum() - w0
    tracer.record(Span(runSpan, 0, "run", "workload", a.workload, startMs, tracer.now()))
    // the listener bus delivers the last progress event asynchronously
    val deadline = System.nanoTime() + 10000000000L
    while (progress.events.asScala.count(_.numInputRows > 0) < gen.seconds &&
      System.nanoTime() < deadline) Thread.sleep(20)
    spark.streams.removeListener(progress)
    val batches = progress.events.asScala.toSeq.filter(_.numInputRows > 0)
    val batchS = batches.map(_.durationMs.get("triggerExecution").toDouble / 1e3)

    // ---- untimed: stores against the generator's own log
    val check = checkStores(spark, gen, msgStore, docStore)
    Main.mark("checked")
    // untimed and after the drain: the live probe waits on the wall clock
    val probes = Seq(liveNowProbe(spark, work.resolve("probe-live")),
      staleArchiveProbe(spark, work.resolve("probe-stale")))
    Main.mark("probed")

    val endToEnd = Map("setup_s" -> setupS, "batch_s" -> drainS)
    val reported = Map(
      "chat_msgs_per_s" -> gen.parsedMessages / drainS,
      "chat_batch_p50_s" -> Main.percentile(batchS, 50),
      "chat_batch_p90_s" -> Main.percentile(batchS, 90),
      "fail_frac" -> check.failed.toDouble / check.attempted)
    val perLayer =
      if (!tracer.enabled) Map.empty[String, Double]
      else layers(spark, tracer, gen, archive, batches, drainSpan, msgStore) ++ Map(
        "construct_s" -> constructS,
        "codegen_compile_s" -> codegenNs / 1e9,
        "codegen_classes" -> codegenClasses.toDouble,
        "warn_lines" -> warnLines.toDouble)
    Main.Result(setupS, check.attempted, check.failed, endToEnd, reported, perLayer, Map(
      "rooms" -> gen.rooms,
      "archived_seconds" -> gen.seconds,
      "history_rows" -> gen.history.size,
      "archive_files" -> gen.seconds * gen.rooms,
      "archive_bytes" -> archiveBytes,
      "parsed_messages" -> gen.parsedMessages,
      "new_messages" -> gen.archived.size,
      "deletions" -> gen.deletions,
      "mention_share" -> gen.all.count(_.mentions.nonEmpty).toDouble / gen.all.size,
      "data_batches" -> batches.size,
      "all_batches" -> progress.events.size,
      "batch_samples_s" -> batchS,
      "batch_sample_count" -> batchS.size,
      "drain_s" -> drainS,
      "construct_s" -> constructS,
      "store_check" -> check,
      "known_defect_probes" -> probes))
  }

  final case class StoreCheck(attempted: Int, failed: Int, mismatches: Seq[String])

  /** Both stores hold one row per (room, id): untouched history rows as
    * preloaded, every other row as the generator logged it; the doc store
    * drops `flags`, keeps `deletedTs` only when deleted and carries the
    * mentions. */
  private def checkStores(spark: SparkSession, gen: ChatGen, msgStore: String,
      docStore: String): StoreCheck = {
    val want = gen.all.map(m => (m.roomName, m.id.toString) ->
      (if (m.lastShown < 0) gen.preload(m) else gen.expected(m))).toMap
    val mentions = gen.all.map(m => (m.roomName, m.id.toString) -> m.mentions).toMap
    val bad = ArrayBuffer.empty[String]
    def rows(path: String) = spark.read.parquet(path).collect().toSeq
    def ts(r: Row, c: String) = Option(r.getAs[Timestamp](c))
    def check(name: String, got: Seq[Row], doc: Boolean): Unit = {
      val keys = got.map(r => (r.getAs[String]("room"), r.getAs[String]("id")))
      if (keys.distinct.size != keys.size) bad += s"$name: duplicate (room, id) rows"
      got.foreach { r =>
        val k = (r.getAs[String]("room"), r.getAs[String]("id"))
        want.get(k) match {
          case None => bad += s"$name: unexpected row $k"
          case Some(w) =>
            val same = ts(r, "ts").contains(w.ts) && r.getAs[String]("emblem") == w.emblem &&
              r.getAs[String]("username") == w.username &&
              r.getAs[String]("content") == w.content &&
              r.getAs[Boolean]("deleted") == w.deleted && ts(r, "deletedTs") == w.deletedTs &&
              (if (doc) r.getAs[scala.collection.Seq[String]]("mentions").toSeq == mentions(k)
               else r.getAs[Int]("flags") == 0)
            if (!same) bad += s"$name: row $k is $r, expected $w"
        }
      }
      val missing = want.keySet -- keys
      if (missing.nonEmpty) bad += s"$name: ${missing.size} rows missing, e.g. ${missing.head}"
      bad ++= Seq.fill(math.max(0, missing.size - 1))(s"$name: missing row")
    }
    val msgs = rows(msgStore)
    val docs = rows(docStore)
    check("messages", msgs, doc = false)
    check("docs", docs, doc = true)
    val docCols = spark.read.parquet(docStore).columns.toSet
    if (docCols.contains("flags") || !docCols.contains("mentions"))
      bad += s"docs: columns $docCols"
    StoreCheck(2 * want.size, bad.size, bad.take(20).toSeq)
  }

  final case class Probe(name: String, passed: Boolean, detail: String)

  private def page(msgs: Seq[(Long, Instant)]): String =
    msgs.sortBy(-_._1).map { case (id, t) =>
      ChatGen.block(id, t.getEpochSecond, "e1.png", "probe", "probe message", deleted = false)
    }.mkString("\n")

  /** Known defect: `ChatPipeline` dates every page against the one `now`
    * it was started with, not the page's fetch time. A live stream that
    * sees a message posted after `now` parses it a day early, and the
    * diff drops it as late. Passes only if the message reaches the store
    * with its real time. */
  private def liveNowProbe(spark: SparkSession, dir: Path): Probe = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RawPage]
    val started = Instant.now()
    val store = dir.resolve("messages").toString
    val q = ChatPipeline.start(in.toDS(), started, store, dir.resolve("docs").toString,
      intervalMs = 100, checkpoint = Some(dir.resolve("checkpoint").toString))
    try {
      val before = (1 to 5).map(i => (i.toLong, started.minusSeconds(600 - 100 * i)))
      in.addData(RawPage("live", page(before), Timestamp.from(started)))
      q.processAllAvailable()
      while (Instant.now().getEpochSecond <= started.getEpochSecond + 1) Thread.sleep(50)
      val fetched = Instant.now()
      val after = (6 to 9).map(i => (i.toLong, fetched.minusMillis(fetched.toEpochMilli % 1000)))
      in.addData(RawPage("live", page(before ++ after), Timestamp.from(fetched)))
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(store).as[ChatMessage].collect()
      .map(m => m.id.toLong -> m.ts.toInstant).toMap
    val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val late = (6 to 9).filterNot(i => stored.get(i.toLong).exists(_.getEpochSecond >=
      started.getEpochSecond))
    Probe("live_now", late.isEmpty,
      s"${late.size} of 4 messages posted after the pipeline's now are missing or " +
        s"misdated in the store (stored: ${late.map(i => stored.get(i.toLong))}); " +
        s"$dropped rows dropped by the watermark")
  }

  /** Known defect, archive form: `Scans.chatScan` dates a page fetched
    * more than 24 h before `now` a day late. Passes only if every parsed
    * message has its real time. */
  private def staleArchiveProbe(spark: SparkSession, dir: Path): Probe = {
    val now = Instant.parse("2024-07-12T15:00:00Z")
    val posted = now.minusSeconds(25 * 3600)
    Files.createDirectories(dir)
    val msgs = (1 to 3).map(i => (i.toLong, posted.plusSeconds(i)))
    val f = dir.resolve("old__000000.html")
    Files.writeString(f, page(msgs))
    f.toFile.setLastModified(posted.plusSeconds(5).toEpochMilli)
    val parsed = Scans.chatScan(Scans.readArchive(spark, dir.toString), now).collect()
      .map(m => m.id.toLong -> m.ts.toInstant).toMap
    val wrong = msgs.filterNot { case (id, t) => parsed.get(id).contains(t) }
    Probe("archive_older_than_24h", wrong.isEmpty,
      s"${wrong.size} of 3 messages posted 25 h before now parsed with the wrong time " +
        s"(e.g. ${wrong.headOption.map { case (id, t) => s"$t parsed as ${parsed.get(id)}" }})")
  }

  /** Per-layer metrics of one traced drain. */
  private def layers(spark: SparkSession, tracer: Tracer, gen: ChatGen, archive: Path,
      batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], drainSpan: Long,
      msgStore: String): Map[String, Double] = {
    tracer.drain(spark)
    // micro-batch spans, from the progress events
    batches.foreach { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      tracer.record(Span(tracer.newId(), drainSpan, s"batch${p.batchId}", "micro-batch",
        s"batch ${p.batchId}", start, start + p.durationMs.get("triggerExecution")))
    }
    val spans = tracer.withSparkSpans
    val leaf = spans.filter(_.id == drainSpan)
    val common = Layers.common(tracer, spans, leaf, 1)
    def med(k: String) = Main.median(batches.map(_.durationMs.asScala.get(k).map(_.toDouble)
      .getOrElse(0.0)))
    val state = batches.flatMap(_.stateOperators.headOption)
    val last = state.lastOption
    // sources: single-thread parse of every archived page
    val t0 = System.nanoTime()
    var parsed = 0L
    for (s <- 0 until gen.seconds; r <- 0 until gen.rooms)
      parsed += HtmlParsers.parseChat(ChatGen.roomName(r), gen.pages(s)(r), gen.now).size
    val parseRate = parsed / ((System.nanoTime() - t0) / 1e9)
    // sinks: one direct merge of a mid-archive batch's changed rows into
    // a copy of the preloaded store
    import spark.implicits._
    val mid = gen.seconds / 2
    val changed = gen.all.filter(m => (m.tsSec == gen.start.getEpochSecond + mid) ||
      m.deletedAt == mid).map(gen.expected).toDS().toDF()
    val scratch = archive.getParent.resolve("merge-probe")
    val changedPath = scratch.resolve("changed").toString
    changed.write.parquet(changedPath)
    val changedBytes = dirBytes(Paths.get(changedPath)).toDouble
    val mergeS = (1 to 3).map { i =>
      val copy = scratch.resolve(s"store$i")
      copyTree(Paths.get(msgStore + "-preload"), copy)
      val t = System.nanoTime()
      MergeSink.merge(changed, Seq("room", "id"), copy.toString, MergeSink.Upsert)
      (System.nanoTime() - t) / 1e9
    }
    val storeBytesPerBatch = common("output_bytes") / math.max(1, batches.size)
    // a foreachBatch sink reports no output rows, so the diff's output is
    // taken from the generator's log (first sightings plus seen deletion
    // flips); the store check proves every one of them was emitted
    val emitted = gen.all.count(_.lastShown >= 0) +
      gen.all.count(m => m.deleted && m.deletedAt <= m.lastShown)
    common ++ Map(
      "parse_msgs_per_s" -> parseRate,
      "state.rows_total" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.mem_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms" -> Main.median(state.map(_.commitTimeMs.toDouble)),
      "state.update_ms" -> Main.median(state.map(_.allUpdatesTimeMs.toDouble)),
      "state.rows_dropped_late" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "changed_frac" -> emitted.toDouble / gen.parsedMessages,
      "batch.add_batch_ms" -> med("addBatch"),
      "batch.query_planning_ms" -> med("queryPlanning"),
      "batch.wal_commit_ms" -> med("walCommit"),
      "merge_s" -> Main.median(mergeS),
      "store_bytes_written" -> storeBytesPerBatch,
      "write_amp" -> storeBytesPerBatch / changedBytes)
  }

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    }
}
