package graft.streaming

import java.time.Instant
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.sources.{ChatMessage, RawPage, Scans}

/** The reference's hottest path, composed end-to-end (SURVEY §3.1;
  * scrapers/chat.py:124-171 → db/chat.py:13-26 + firestore/chat.py:39-71):
  *
  *   pages ─ flatMap parse (S2, W2/W3 repairs inside)
  *         ─ per-key stateful diff (A4: emit-on-change, deletion stamps)
  *         ─ foreachBatch:
  *             ├─ message store: idempotent keyed upsert (S7/S8)
  *             └─ doc store: drop flags, derive mentions (F5, P3),
  *                merge-upsert (S9)
  *
  * One linear plan per micro-batch; the reference's per-listener task
  * fan-out becomes two merges of one deduplicated, cached batch (it
  * guarantees no cross-sink ordering anyway, events.py:23).
  */
object ChatPipeline {

  /** Batch/stream-agnostic transform: pages → changed messages.
    * Works on a static Dataset (tests, backfill over archived pages)
    * and a streaming one (live) identically — the Spark win the
    * reference's hand-rolled loop can't have. */
  def changedMessages(pages: Dataset[RawPage], now: Instant): Dataset[ChatMessage] =
    Streams.lastValueDiff(Scans.chatScan(pages, now))

  /** Sink-side projection for the doc store: drop `flags`, keep
    * `deleted_ts` only when deleted (firestore/chat.py:42-48), derive
    * the mentions array with the reference's exact regex (F5). */
  def toDocRows(msgs: DataFrame): DataFrame =
    msgs
      .withColumn("mentions", Fns.mentions(col("content")))
      .withColumn("deletedTs", when(col("deleted"), col("deletedTs")))
      .drop("flags")

  /** Wire the full pipeline onto a streaming page source. Each batch
    * merges into both stores; both merges are idempotent, so
    * at-least-once delivery yields exactly-once effects (db/chat.py:14-19).
    *
    * The sink deliberately does NOT ride [[Streams.isolated]] (same
    * reasoning as [[IncrementalStream.start]]): `lastValueDiff` holds
    * Spark-managed state, and swallowing a merge failure would let the
    * batch commit — state advanced, rows never stored, the diff gone
    * for good (silent at-most-once, contradicting the contract above).
    * A failed merge must fail the query so the replay re-runs against
    * the uncommitted state version. The isolator stays correct only on
    * the stateless poll path ([[Streams.polling]]), where a skipped
    * batch's data is re-presented by the next live fetch.
    */
  def start(pages: Dataset[RawPage], now: Instant, msgStorePath: String,
      docStorePath: String, intervalMs: Long = 1000,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      checkpoint: Option[String] = None) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val changed = changedMessages(pages, now)
    val keys = Seq("room", "id")
    val sink: (Dataset[ChatMessage], Long) => Unit = (batch, _) => {
      // deduplicated and cached once for both stores; an empty batch
      // (e.g. the no-data batch that only advances the watermark) writes
      // nothing to either
      val rows = batch.toDF().dropDuplicates(keys).persist()
      try {
        MergeSink.mergeDistinct(rows, keys, msgStorePath, MergeSink.Upsert)
        MergeSink.mergeDistinct(toDocRows(rows), keys, docStorePath, MergeSink.Upsert)
      } finally rows.unpersist()
    }
    val w = changed.writeStream
      .queryName("chat-pipeline")
      .outputMode("update")
      // default: the reference's fixed poll cadence; AvailableNow for
      // archive backfill (drain the backlog in bounded batches, stop)
      .trigger(trigger.getOrElse(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs)))
      .foreachBatch(sink)
    // fail-don't-swallow only buys a REPLAY when the offset/state logs
    // survive the restart — production deployments pass a durable
    // checkpoint dir here (same hook as IncrementalStream.start); the
    // temp-checkpoint default keeps the MemoryStream test harness
    // unchanged, but a transient merge failure then permanently kills
    // the query with no resumable offsets (an availability divergence
    // from the reference's keep-running poll loop) — say so loudly
    if (checkpoint.isEmpty)
      System.err.println(
        "[chat-pipeline] WARNING: stateful merge sink started without a " +
          "durable checkpointLocation — a failed batch cannot be replayed " +
          "after restart; pass checkpoint=Some(dir) outside tests")
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
