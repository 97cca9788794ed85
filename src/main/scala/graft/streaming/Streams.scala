package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.ChatMessage

/** Streaming semantics layer (SURVEY §2.8). The reference is a
  * continuously-polling asyncio service; its stateful behaviors map to
  * Structured Streaming primitives:
  *
  *   - A4 per-key last-value diff      → `flatMapGroupsWithState`
  *   - A5 bounded FIFO dedup caches    → watermark + `dropDuplicatesWithinWatermark`
  *   - S1 fixed-interval polling       → `Trigger.ProcessingTime` + per-batch
  *                                       error isolation (tasks.py:23-37)
  *   - S7–S9 idempotent/merge sinks    → `foreachBatch` keyed merge
  *
  * None of these are oracle-checkable (the harness oracle is batch
  * DuckDB), so they are covered by MemoryStream golden tests
  * (StreamingSpec) instead — same split the reference makes (its
  * scraper loops are tested via fixtures, not its DB).
  */
object Streams {

  /** A4 `stateful_last_value_diff`, streaming form (scrapers/chat.py:158-171).
    *
    * Key = (room, id). State = last seen message. Per batch, messages for
    * a key are applied in event order; a message is emitted only when it
    * differs from the stored last value. The deleted false→true
    * transition stamps `deletedTs` with the triggering row's event time
    * (the reference stamps wall-clock `now()` — an event-time stamp is
    * the deterministic, replayable equivalent), and an existing
    * `deletedTs` is carried forward onto updates.
    *
    * State is bounded by event-time timeout against the watermark — the
    * scalable analog of the reference's "last 100 messages per room"
    * dict: a key idle past `stateTtlMs` of event-time progress is
    * evicted (re-scrapes of very old messages would then re-emit — same
    * at-least-once semantics the reference has after its cache evicts).
    * Event-time (not processing-time) timeout keeps the operator
    * replay-deterministic and avoids empty timeout-check micro-batches.
    */
  def lastValueDiff(msgs: Dataset[ChatMessage], watermarkDelay: String = "1 hour",
      stateTtlMs: Long = 3600L * 1000): Dataset[ChatMessage] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.withWatermark("ts", watermarkDelay)
      .groupByKey(m => (m.room, m.id))
      .flatMapGroupsWithState[ChatMessage, ChatMessage](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, incoming, state: GroupState[ChatMessage]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[ChatMessage]
            var last = state.getOption
            incoming.toSeq.sortBy(m => (m.ts.getTime, m.id)).foreach { raw =>
              // carry forward a known deletion stamp (chat.py:162-163)
              var msg = last match {
                case Some(l) if l.deletedTs.isDefined => raw.copy(deletedTs = l.deletedTs)
                case _ => raw
              }
              if (!last.contains(msg)) {
                // stamp the false->true deletion transition (chat.py:164-169)
                if (last.exists(l => !l.deleted) && msg.deleted && msg.deletedTs.isEmpty)
                  msg = msg.copy(deletedTs = Some(msg.ts))
                out += msg
                last = Some(msg)
              }
            }
            last.foreach(state.update)
            // TTL anchored to the key's own event time (not the global
            // watermark, which lags a batch and would evict live keys
            // whose events are older than watermark+ttl)
            val lastTsMs = last.map(_.ts.getTime).getOrElse(0L)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + stateTtlMs, lastTsMs + stateTtlMs))
            out.result().iterator
          }
      }
  }

  /** A5 `bounded_state_dedup`, streaming form (utils/cache.py:7-17,
    * scrapers/mailbox.py:101): keep the first occurrence of each key,
    * with state bounded by the event-time watermark instead of a FIFO
    * count — the form that scales to any throughput. */
  def boundedDedup(msgs: Dataset[ChatMessage], watermark: String = "1 hour"): Dataset[ChatMessage] =
    msgs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("room", "id")

  /** Stream–stream interval join: the streaming twin of the batch
    * bucketed range join ([[graft.operators.TemporalJoins]]): each left
    * event joined to right events of the same key within a trailing
    * window. Structured Streaming requires exactly what makes this
    * scale: watermarks on BOTH sides plus the time-bound join
    * condition, which together bound the join state — right rows are
    * dropped from state once the left watermark passes `ts + window`,
    * so state tracks event-time progress, not stream length. Columns
    * are pre-renamed per side: stream–stream self-joins of one source
    * otherwise collide on attribute ids.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
      windowSecs: Long, watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("l_ts", watermarkDelay)
    val r = right.withWatermark("r_ts", watermarkDelay)
    l.join(r, expr(
      s"l_$key = r_$key AND r_ts >= l_ts - INTERVAL $windowSecs SECONDS AND r_ts <= l_ts"))
  }

  /** S1 `periodic_poll_source` error isolation (tasks.py:23-37): one
    * failing micro-batch is logged and skipped; the query keeps running.
    * Wraps a `foreachBatch` body the way the reference wraps each poll
    * iteration in try/except.
    *
    * STATELESS poll paths ONLY. Skipping commits the batch, so this is
    * sound exactly when the skipped data is re-presented by the world
    * itself — the next live poll re-fetches the same page. Wrapping a
    * STATEFUL pipeline (managed streaming state, a hash-diff store)
    * turns a sink failure into silent at-most-once: state advances,
    * the delta is gone, the replay hash-skips. Those paths
    * ([[IncrementalStream]], [[ChatPipeline]]) must rethrow instead —
    * see their Scaladocs. */
  def isolated(f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (df, batchId) =>
      try f(df, batchId)
      catch {
        case e: Exception =>
          System.err.println(s"[stream] batch $batchId failed, continuing: ${e.getMessage}")
      }

  /** Start a fixed-interval polling query over a streaming Dataset —
    * the S1 shape: `Trigger.ProcessingTime` cadence + isolated batches. */
  def pollingQuery[T](src: Dataset[T], intervalMs: Long, name: String)(
      onBatch: (DataFrame, Long) => Unit) =
    src.toDF().writeStream
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch(isolated(onBatch))
      .start()

  /** Release frozen-model relations when `query` terminates — the
    * blue/green lifecycle hygiene shared by the frozen-artifact
    * streams ([[DsirStream]], [[DriftStream]]): each `start()` pins a
    * model generation in the block manager, and without this hook a
    * long-lived session retraining N times leaks N generations. The
    * listener matches the query by id and removes itself after
    * firing. */
  def unpersistOnTermination(spark: org.apache.spark.sql.SparkSession,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      pinned: Seq[DataFrame]): Unit = {
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          pinned.foreach(_.unpersist())
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // the listener is necessarily registered AFTER start() (the query
    // id doesn't exist earlier), so a query that failed or was stopped
    // in that window has already posted its termination event to a bus
    // we weren't on. Close the race by checking liveness after
    // registration: if the query is already dead, clean up directly
    // (unpersist is idempotent, so the both-paths-fire interleaving is
    // harmless).
    if (!query.isActive) {
      pinned.foreach(_.unpersist())
      spark.streams.removeListener(listener)
    }
  }
}

/** S7–S9 sink semantics without a transactional table format in the
  * environment (no Delta/Iceberg jars): a keyed parquet store merged by
  * touched-file copy-on-write, the local-filesystem form of what Delta's
  * `MERGE INTO` does. On a production cluster this `merge` is a
  * Delta/Iceberg `MERGE INTO` inside `foreachBatch` — the call sites
  * don't change.
  *
  * A merge rewrites only the data files that hold a key of the
  * deduplicated batch. One scan of the key columns finds them
  * (`_metadata.file_path` left-semi-joined to the broadcast batch keys).
  * The batch's merged rows go to one new file, the touched files'
  * surviving rows are rewritten, and every other data file is hard-linked
  * into the next snapshot as it is. So a merge writes in proportion to
  * the batch and the files it touches, not to the store. A batch that is
  * empty after deduplication writes nothing.
  *
  * File count: each merge also folds the store's smallest files into the
  * new file, smallest first, while the next one holds at most twice the
  * rows gathered so far. Every file left beside the new one then holds
  * more than twice its rows, so sizes at least double from one file to
  * the next larger and a store built by merges holds O(log rows) files.
  * Touched files too large to fold have their surviving rows rewritten
  * apart from the new file, one output file per input file, so a small
  * batch never grows a large file.
  *
  * Crash contract: the next snapshot (new file plus links) is assembled
  * in `path.tmp` and swapped in by two atomic renames (see [[merge]]);
  * a leftover `path.tmp` is never read and is overwritten by the next
  * merge.
  *
  * Semantics per mode (all idempotent under batch replay, which is what
  * makes at-least-once delivery exactly-once in effect — db/chat.py:13-26,
  * firestore/chat.py:49-56):
  *   - insert-ignore (S7): WHEN NOT MATCHED INSERT; matched rows keep state.
  *   - update (S8):        WHEN MATCHED overwrite non-key columns.
  *   - upsert (S9):        update ∪ insert.
  * Each mode reads only the touched files as its state: every stored row
  * whose key is in the batch lies in a touched file, so the result equals
  * the same merge over the whole store.
  */
object MergeSink {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}
  import scala.jdk.CollectionConverters._
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{DataType, StructType}

  sealed trait Mode
  case object InsertIgnore extends Mode
  case object UpdateOnly extends Mode
  case object Upsert extends Mode

  /** Recover from a crash between the two swap moves: a leftover `.old`
    * with no live dir IS the last complete snapshot — move it back.
    * Called on every merge before reading state (and usable at startup). */
  private def recover(path: String): Unit = {
    val live = Paths.get(path)
    val old = Paths.get(path + ".old")
    if (!Files.exists(live) && Files.exists(old))
      Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Merge `batch` into the keyed parquet state at `path`.
    *
    * Single-writer assumption (same as any non-transactional table
    * maintenance job): one merge per `path` at a time — foreachBatch
    * already serializes batches per query. The snapshot swap uses
    * `Files.move(ATOMIC_MOVE)` and fails loudly if a move fails; a crash
    * between the two moves leaves `.old` as the intact last snapshot,
    * which [[recover]] restores on the next merge. Readers can observe a
    * brief no-live-dir window mid-swap — acceptable for this
    * store-maintenance shape; concurrent point-in-time readers belong on
    * a transactional format (Delta/Iceberg `MERGE INTO`, see object doc).
    */
  def merge(batch: DataFrame, keys: Seq[String], path: String, mode: Mode): Unit = {
    val rows = batch.dropDuplicates(keys).persist() // replay/page-overlap safety
    try mergeDistinct(rows, keys, path, mode) finally rows.unpersist()
  }

  /** [[merge]] of a batch that holds at most one row per key. The batch
    * is read several times, so the caller should have it cached. */
  private[streaming] def mergeDistinct(rows: DataFrame, keys: Seq[String], path: String,
      mode: Mode): Unit =
    rewrite(rows, keys, path, inserts = mode != UpdateOnly) { (state, batchKeys) =>
      mode match {
        case InsertIgnore => // state wins on match
          state.join(batchKeys, keys, "left_semi")
            .unionByName(rows.join(state.select(keys.map(col): _*), keys, "left_anti"))
        case UpdateOnly => // batch overwrites matched, unmatched batch rows dropped
          rows.join(state.select(keys.map(col): _*), keys, "left_semi")
        case Upsert => rows // batch overwrites matched + inserts new
      }
    }

  /** Touched-file copy-on-write shared by every merge (see the object
    * doc). `matched(state, batchKeys)` gives the rows the batch's keys
    * hold after the merge, from the rows of the touched files and the
    * broadcast batch keys; every other stored row survives as it is.
    * `inserts` says whether a batch key absent from the store adds a
    * row: a batch that can only update writes nothing when it touches
    * no file. */
  private def rewrite(rows: DataFrame, keys: Seq[String], path: String, inserts: Boolean)(
      matched: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = rows.sparkSession
    recover(path)
    val keyRows = rows.select(keys.map(col): _*)
    val batchKeys = keyRows.collect()
    if (batchKeys.isEmpty) return
    if (!Files.exists(Paths.get(path))) {
      if (inserts) writeSnapshot(rows.coalesce(1), path)
      return
    }
    val files = dataFiles(Paths.get(path))
    val footers = files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter finally reader.close()
    }
    // the schema Spark stored in the footer, read on the driver: schema
    // inference would run a Spark job per merge
    val schema = DataType.fromJson(footers.head.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    def read(files: Seq[Path]): DataFrame =
      if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).parquet(files.map(_.toString): _*)
    val batchKeyRel = broadcast(spark.createDataFrame(batchKeys.toSeq.asJava, keyRows.schema))
    def survivors(files: Seq[Path]): DataFrame = read(files).join(batchKeyRel, keys, "left_anti")
    val hit = read(files)
      .select(keys.map(col) :+ col("_metadata.file_path"): _*)
      .join(batchKeyRel, keys, "left_semi")
      .collect().map(r => Paths.get(new java.net.URI(r.getString(keys.size))).getFileName).toSet
    val touched = files.filter(f => hit(f.getFileName))
    if (touched.isEmpty && !inserts) return
    val bySize = files.zip(footers.map(_.getBlocks.asScala.map(_.getRowCount).sum))
      .sortBy { case (f, n) => (n, f.getFileName.toString) }
    // rows gathered before each file: the batch plus every smaller file
    val gathered = bySize.scanLeft(batchKeys.length.toLong)(_ + _._2)
    val folded = bySize.zip(gathered).takeWhile { case ((_, n), g) => n <= 2 * g }.map(_._1._1)
    val apart = touched.filterNot(folded.contains)
    val newFile = matched(read(touched), batchKeyRel).select(schema.fieldNames.toSeq.map(col): _*)
      .unionByName(survivors(folded)).coalesce(1)
    // survivors(apart) keeps its scan's partitions (about one per file),
    // so its rows stay out of the new file; a coalesce(1) here would make
    // the union a single partition and so a single file
    writeSnapshot(if (apart.isEmpty) newFile else survivors(apart).unionByName(newFile),
      path, files.filterNot(f => touched.contains(f) || folded.contains(f)))
  }

  /** The parquet data files of a snapshot dir. */
  private def dataFiles(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter { f =>
      val name = f.getFileName.toString
      !name.startsWith("_") && !name.startsWith(".")
    }.toSeq
    finally listing.close()
  }

  /** Snapshot swap: write `rows` next to the live dir, hard-link the
    * `carried` data files (and their checksums) of the live snapshot in
    * beside them, then two atomic renames (see [[merge]] Scaladoc for the
    * crash-recovery contract). A whole-snapshot write carries no files;
    * [[IncrementalStream]]'s hash-state store writes that way. */
  private[streaming] def writeSnapshot(rows: DataFrame, path: String,
      carried: Seq[Path] = Nil): Unit = {
    val tmp = Paths.get(path + ".tmp")
    rows.write.mode("overwrite").parquet(tmp.toString)
    carried.foreach { f =>
      Files.createLink(tmp.resolve(f.getFileName), f)
      val crc = f.resolveSibling(s".${f.getFileName}.crc")
      if (Files.exists(crc)) Files.createLink(tmp.resolve(crc.getFileName), crc)
    }
    val old = Paths.get(path + ".old")
    if (Files.exists(old)) org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    if (Files.exists(Paths.get(path)))
      Files.move(Paths.get(path), old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
  }

  /** S9b — nested-subdocument merge (firestore/chat.py:63-71: the
    * `mod/flags` subdocument `set` under a chat document): one
    * StructType column of the keyed state is merged FIELD-WISE — a
    * non-null batch field wins, every other field persists from state —
    * while top-level non-key columns upsert (batch wins when present).
    * A batch row for an unknown key inserts whole. This is Firestore's
    * set-on-subdocument without clobbering sibling fields, as one
    * relational merge; on a transactional table format it is the
    * `MERGE INTO ... UPDATE SET sub.f = coalesce(src.sub.f, tgt.sub.f)`
    * form with identical call sites. Rewrites only touched files, like
    * [[merge]].
    */
  def mergeStruct(batch: DataFrame, keys: Seq[String], path: String, structCol: String): Unit = {
    val deduped = batch.dropDuplicates(keys).persist()
    try rewrite(deduped, keys, path, inserts = true) { (state, _) =>
      val others = state.columns.filterNot(c => keys.contains(c) || c == structCol).toSeq
      val fields = state.schema(structCol).dataType.asInstanceOf[StructType].fieldNames.toSeq
      val st = state.select(keys.map(col) ++ others.map(c => col(c).as(s"_s_$c")) :+
        col(structCol).as("_s_sub"): _*)
      val bt = deduped.select(keys.map(col) ++ others.map(c => col(c).as(s"_b_$c")) :+
        col(structCol).as("_b_sub"): _*)
      val mergedSub = struct(fields.map(f =>
        coalesce(col(s"_b_sub.$f"), col(s"_s_sub.$f")).as(f)): _*)
      bt.join(st, keys, "left_outer")
        .select(keys.map(col) ++
          others.map(c => coalesce(col(s"_b_$c"), col(s"_s_$c")).as(c)) :+
          when(col("_b_sub").isNull, col("_s_sub"))
            .when(col("_s_sub").isNull, col("_b_sub"))
            .otherwise(mergedSub).as(structCol): _*)
    } finally deduped.unpersist()
  }
}
