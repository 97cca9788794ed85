package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener, Trigger}
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
  *   - per-key state, no timeout       → [[keyedFold]] (the stateful twins)
  *   - keyed-CDC replay gate           → [[replayGated]] (the event twins)
  *   - frozen-artifact scoring         → [[handOff]] (the stateless twins)
  *
  * None of these are oracle-checkable (the harness oracle is batch
  * DuckDB), so they are covered by MemoryStream golden tests
  * (StreamingSpec) instead — same split the reference makes (its
  * scraper loops are tested via fixtures, not its DB).
  */
object Streams {

  /** A4 `stateful_last_value_diff`, streaming form (scrapers/chat.py:158-171).
    *
    * Key = (room, id). State = last seen message. Per trigger, messages
    * for a key are applied in event order, and the key emits its net
    * change: at most one row, its final value, and only when that differs
    * from the state at the start of the trigger (the Update output mode's
    * contract). A trigger that sees a message both live and deleted so
    * emits the deleted, stamped version, and a sink needs no per-batch
    * deduplication. The deleted false→true transition stamps `deletedTs`
    * with the triggering row's event time (the reference stamps
    * wall-clock `now()` — an event-time stamp is the deterministic,
    * replayable equivalent), and an existing `deletedTs` is carried
    * forward onto updates.
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
            val initial = state.getOption
            var last = initial
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
            (if (last == initial) None else last).iterator
          }
      }
  }

  /** Epoch MICROS, not millis: the harness timestamps carry microsecond
    * precision, and `Timestamp.getTime` would truncate every interval
    * bound to the millisecond, breaking the streaming ≡ batch bit
    * equality the twins' specs pin. Pre-epoch timestamps give negative
    * micros; [[fromMicros]] inverts them exactly. */
  def micros(ts: Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
  def fromMicros(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Per-key fold with no timeout, the one `flatMapGroupsWithState` of
    * every stateful twin but [[lastValueDiff]]. Per micro-batch each key
    * seen gets its stored state (`zero` for a new key) and its events, in
    * no order; `fold` returns the key's next state, which is stored, and
    * its output rows. State is one `S` per key ever seen: nothing evicts
    * it. `mode` is the query's output mode (Append or Update). */
  def keyedFold[E, K: Encoder, S: Encoder, O: Encoder](events: Dataset[E],
      mode: OutputMode = OutputMode.Append())(key: E => K, zero: S)(
      fold: (K, S, Iterator[E]) => (S, IterableOnce[O])): Dataset[O] =
    events.groupByKey(key).flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout()) {
      (k: K, incoming: Iterator[E], state: GroupState[S]) =>
        val (next, out) = fold(k, state.getOption.getOrElse(zero), incoming)
        state.update(next)
        out.iterator
    }

  /** Replay-gated per-key fold: the delivery contract of every event
    * twin whose fold is order-sensitive (SCD2 interval closing,
    * transition pairs, funnel steps) or must not double-count under
    * redelivery (histogram deltas).
    *
    * The contract is PER-KEY ORDERED, at-least-once delivery: the
    * guarantee a keyed CDC log actually provides (one Kafka partition
    * per key). Within a micro-batch each key's events are sorted by
    * (micros, event id); across batches an event at or before the key's
    * stored (lastTs, lastId) watermark is a REPLAY and is dropped, so
    * redelivery of any prefix converges bit-identically and re-emits
    * nothing. A genuinely late cross-batch regression is
    * indistinguishable from a replay under this contract; unkeyed,
    * shuffled input is out of contract by design, stated here rather
    * than silently mis-folded.
    *
    * `fold(key, s, admitted)` gets the key's state (`zero` for a new
    * key) and its admitted events in order, each with its micros; it
    * returns the key's next state and its output rows. State per key is
    * `(lastTs, lastId, s)`, folded by [[keyedFold]] in Append mode. */
  def replayGated[E, K: Encoder, S: Encoder, O: Encoder](events: Dataset[E])(
      key: E => K, ts: E => Timestamp, id: E => Long, zero: S)(
      fold: (K, S, Seq[(E, Long)]) => (S, IterableOnce[O])): Dataset[O] = {
    implicit val stateEnc: Encoder[(Long, Long, S)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, implicitly[Encoder[S]])
    keyedFold(events)(key, (Long.MinValue, Long.MinValue, zero)) { case (k, (ts0, id0, s), incoming) =>
      var (lastTs, lastId) = (ts0, id0)
      val admitted = incoming.map(e => (e, micros(ts(e)))).toSeq
        .sortBy { case (e, t) => (t, id(e)) }
        .filter { case (e, t) =>
          val fresh = t > lastTs || (t == lastTs && id(e) > lastId)
          if (fresh) { lastTs = t; lastId = id(e) }
          fresh
        }
      val (next, out) = fold(k, s, admitted)
      ((lastTs, lastId, next), out)
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

  /** Per-batch hand-off of the stateless and frozen-artifact twins:
    * starts the Append `foreachBatch` query `name` over `src`. Each
    * micro-batch's output `derive(batch)` is persisted and counted, so it
    * is materialized before the sink reads it, handed to `sink` with the
    * batch id, and unpersisted afterwards. The `pinned` frozen relations
    * are released when the query terminates ([[unpersistOnTermination]]).
    *
    * NOT [[isolated]]: a derived batch is a pure function of the batch
    * and the frozen artifact, so the right failure mode is to fail the
    * batch and let Structured Streaming replay it. Swallowing a throw
    * would silently drop the batch (at-most-once). */
  def handOff(src: Dataset[_], name: String, pinned: Seq[DataFrame] = Nil)(
      derive: DataFrame => DataFrame)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val query = src.toDF().writeStream
      .queryName(name)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = derive(batch).persist()
        try {
          out.count()
          sink(out, batchId)
        } finally { out.unpersist(); () }
      }
      .start()
    if (pinned.nonEmpty) unpersistOnTermination(src.sparkSession, query, pinned)
    query
  }

  /** Release frozen-model relations when `query` terminates — the
    * blue/green lifecycle hygiene of the frozen-artifact streams
    * ([[handOff]], [[AnnMonitorStream]]): each `start()` pins a model
    * generation in the block manager, and without this hook a
    * long-lived session retraining N times leaks N generations. The
    * listener matches the query by id and removes itself after
    * firing. */
  def unpersistOnTermination(spark: SparkSession, query: StreamingQuery,
      pinned: Seq[DataFrame]): Unit = {
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
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
  * deduplicated batch. One scan of the key columns finds them: the rows
  * whose key is in the batch's key set, one broadcast variable that every
  * store a micro-batch merges into shares.
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
  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType
  import graft.Tables

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
    try withKeySet(rows, keys)(mergeDistinct(rows, keys, path, mode, _))
    finally rows.unpersist()
  }

  /** Runs `body` with the keys of `rows`, collected once (on a cached
    * batch this job also materializes the cache) and held in one broadcast
    * variable, which runs no job and is released when `body` returns. */
  private[streaming] def withKeySet[T](rows: DataFrame, keys: Seq[String])(
      body: Broadcast[Set[Row]] => T): T = {
    val keySet = rows.sparkSession.sparkContext.broadcast[Set[Row]](
      rows.select(keys.map(col): _*).collect().toSet)
    try body(keySet) finally keySet.destroy()
  }

  /** [[merge]] of a batch that holds at most one row per key, all of them
    * in `keySet`. A key of `keySet` with no row in the batch deletes the
    * key's stored row in [[Upsert]] mode. The batch is read several times
    * in the other modes, so the caller should have it cached. */
  private[streaming] def mergeDistinct(rows: DataFrame, keys: Seq[String], path: String,
      mode: Mode, keySet: Broadcast[Set[Row]]): Unit =
    rewrite(rows, keys, keySet, path, inserts = mode != UpdateOnly) { state =>
      mode match {
        case InsertIgnore => // state wins on match
          state.unionByName(rows.join(state.select(keys.map(col): _*), keys, "left_anti"))
        case UpdateOnly => // batch overwrites matched, unmatched batch rows dropped
          rows.join(state.select(keys.map(col): _*), keys, "left_semi")
        case Upsert => rows // batch overwrites matched + inserts new
      }
    }

  /** Touched-file copy-on-write shared by every merge (see the object
    * doc), of `rows` keyed by `keySet`. One predicate, key in `keySet`,
    * picks the touched files, the stored rows `matched(state)` turns into
    * the rows the batch's keys hold after the merge, and (negated) the
    * stored rows that survive as they are. `inserts` says whether a batch
    * key absent from the store adds a row: a batch that can only update
    * writes nothing when it touches no file. */
  private def rewrite(rows: DataFrame, keys: Seq[String], keySet: Broadcast[Set[Row]],
      path: String, inserts: Boolean)(matched: DataFrame => DataFrame): Unit = {
    val spark = rows.sparkSession
    recover(path)
    if (keySet.value.isEmpty) return
    if (!Files.exists(Paths.get(path))) {
      if (inserts) writeSnapshot(rows.coalesce(1), path)
      return
    }
    val files = Tables.dataFiles(Paths.get(path))
    val footers = files.map(Tables.footer(spark.sparkContext.hadoopConfiguration, _))
    val (first, firstFooter) = files.zip(footers).minBy(_._1.getFileName.toString)
    val schema = Tables.footerSchema(spark, first, firstFooter) // as Tables.parquetSchema
    def read(fs: Seq[Path]): DataFrame =
      if (fs.isEmpty) read(files).where(lit(false)) // planned as an empty relation
      else spark.read.schema(schema).parquet(fs.map(_.toString): _*)
    val inBatch = udf((key: Row) => keySet.value.contains(key)).apply(struct(keys.map(col): _*))
    def survivors(fs: Seq[Path]): DataFrame = read(fs).filter(!inBatch)
    val hit = read(files)
      .select(keys.map(col) :+ col("_metadata.file_path"): _*)
      .filter(inBatch).select("file_path")
      .collect().map(r => Paths.get(new java.net.URI(r.getString(0))).getFileName).toSet
    val touched = files.filter(f => hit(f.getFileName))
    if (touched.isEmpty && !inserts) return
    val bySize = files.zip(footers.map(_.getBlocks.asScala.map(_.getRowCount).sum))
      .sortBy { case (f, n) => (n, f.getFileName.toString) }
    // rows gathered before each file: the batch plus every smaller file
    val gathered = bySize.scanLeft(keySet.value.size.toLong)(_ + _._2)
    val folded = bySize.zip(gathered).takeWhile { case ((_, n), g) => n <= 2 * g }.map(_._1._1)
    val apart = touched.filterNot(folded.contains)
    val newFile = matched(read(touched).filter(inBatch))
      .select(schema.fieldNames.toSeq.map(col): _*).unionByName(survivors(folded)).coalesce(1)
    // survivors(apart) keeps its scan's partitions (about one per file),
    // so its rows stay out of the new file; a coalesce(1) here would make
    // the union a single partition and so a single file
    writeSnapshot(if (apart.isEmpty) newFile else survivors(apart).unionByName(newFile),
      path, files.filterNot(f => touched.contains(f) || folded.contains(f)))
  }

  /** Snapshot swap: write `rows` next to the live dir, hard-link the
    * `carried` data files (and their checksums) of the live snapshot in
    * beside them, then two atomic renames (see [[merge]] Scaladoc for the
    * crash-recovery contract). A store's first write carries no files. */
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
    try withKeySet(deduped, keys)(rewrite(deduped, keys, _, path, inserts = true) { state =>
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
    }) finally deduped.unpersist()
  }
}
