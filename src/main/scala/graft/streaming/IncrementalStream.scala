package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.Pipeline

/** One crawl result: a freshly-fetched document, or a removal marker
  * (`removed = true`, `new_text` null) for a URL that has gone away. */
case class Recrawl(doc_id: Long, new_text: String, removed: Boolean)

/** Streaming twin of [[graft.operators.Pipeline.incrementalPipeline]] —
  * the reference's actual operating mode: a continuous scraper whose
  * every fetch is an upsert-or-skip against the stored copy
  * (db/chat.py:13-26, scrapers/chat.py:158-171), here as a Structured
  * Streaming `foreachBatch` loop over crawl results.
  *
  * Per micro-batch:
  *   1. diff the batch against the persisted content-hash state — a
  *      LEFT join (batch side drives; docs not crawled this batch are
  *      untouched, which is what distinguishes the continuous mode from
  *      the batch query's full-snapshot full-outer diff); equal-hash
  *      rows are SKIPPED (no output, no state write) — the
  *      upsert-or-skip contract;
  *   2. run [[Pipeline.deltaStages]] over the delta — the SAME function
  *      the batch query prices, so batch/stream parity is by shared
  *      code, and the per-row cost of a micro-batch is identical to the
  *      batch delta's;
  *   3. deliver the delta to the sink, and only then merge the state:
  *      upsert (doc_id, hash) for added/changed rows, delete for
  *      removals, by [[MergeSink]]'s touched-file rewrite (a production
  *      cluster swaps in Delta/Iceberg `MERGE INTO` with the same call
  *      sites). Sink-before-state is the at-least-once commit order —
  *      see [[processBatch]].
  *
  * State is hash-only — O(|corpus|) keys × 16 bytes, never the text —
  * so the state table at 100 TB of corpus is ~100 GB of hashes:
  * partitionable, mergeable, and far smaller than any snapshot diff
  * input. The state write is batch-serial (foreachBatch guarantee).
  *
  * Junk-gated docs still update the hash state: the gate drops them
  * from the OUTPUT (training corpus), but the stored hash must reflect
  * what was crawled or every recrawl would re-process the same junk —
  * same reason the reference stores the raw page hash before deciding
  * what to index.
  */
object IncrementalStream {

  /** Hash-state rows at `statePath`: (doc_id, h). */
  def readState(spark: SparkSession, statePath: String): DataFrame =
    if (new java.io.File(statePath).exists()) spark.read.parquet(statePath)
    else spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit("").as("h")).limit(0)

  /** Process ONE batch of crawl results against the state at
    * `statePath`: compute the delta-stage output rows (same schema as
    * the batch query: doc_id, status, n_tokens, n_emails, n_phones),
    * hand them to `onDelta`, and only THEN commit the merged state.
    *
    * Commit order is the delivery contract. The sink sees the delta
    * BEFORE the hash state advances, so any failure — an `onDelta`
    * throw, a crash before the snapshot swap — leaves the state at its
    * pre-batch snapshot and the replayed batch re-derives the same
    * delta (no hash-skip of undelivered work). A crash in the window
    * between sink commit and state swap re-delivers that delta once
    * more on replay: at-least-once delivery, which the upsert/retire
    * row semantics absorb idempotently — the reverse order (state
    * first) would instead drop the batch silently. `delta` is
    * materialized before `onDelta` runs and unpersisted when this
    * returns; it must not be read after the callback ends (its lineage
    * would re-read the by-then-advanced state).
    *
    * Exposed separately from [[start]] so the spec can drive it
    * directly against a hand-built state (including the failure path,
    * which a MemoryStream harness without a checkpoint dir can't
    * replay). */
  def processBatch(batch: DataFrame, statePath: String, batchId: Long)(
      onDelta: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    val state = readState(spark, statePath)
    // replay/page-overlap safety; a doc both crawled and removed in one
    // batch resolves to the crawl (the fetch is fresher evidence than a
    // stale 404 from an earlier page of the same poll)
    val crawled = batch.filter(!col("removed"))
      .select(col("doc_id"), col("new_text"), md5(col("new_text")).as("h_new"))
      .dropDuplicates("doc_id")
    val removals = batch.filter(col("removed")).select("doc_id")
      .join(crawled.select("doc_id"), Seq("doc_id"), "left_anti")
      .dropDuplicates("doc_id")
    val upserts = crawled.join(state, Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(col("h").isNull, lit("added"))
          .when(col("h") =!= col("h_new"), lit("changed")))
      .filter(col("status").isNotNull) // equal hash → skip entirely
    val retired = removals.join(state, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("removed").as("status"),
        lit(null).cast("string").as("new_text"))
    // delta-sized; read by deltaStages' two branches AND the state merge
    val diff = upserts.select("doc_id", "status", "new_text")
      .unionByName(retired).persist()
    val out = Pipeline.deltaStages(diff).persist()
    try {
      // materialize against the PRE-batch state before anything mutates
      // (out's lineage reads statePath); blocks back onDelta's reads
      out.count()
      // sink FIRST — a throw here propagates, the batch fails, and the
      // replay runs against the still-unadvanced state
      onDelta(out, batchId)
      // state merge, keyed by the delta's doc_ids: an added or changed
      // doc's key holds its new hash, a retired doc's key holds no row
      MergeSink.withKeySet(diff, Seq("doc_id"))(MergeSink.mergeDistinct(
        upserts.select(col("doc_id"), col("h_new").as("h")), Seq("doc_id"), statePath,
        MergeSink.Upsert, _))
    } finally {
      // a long-running query must not accumulate one block set per batch
      diff.unpersist()
      out.unpersist()
    }
  }

  /** Start the continuous query: crawl results in, delta rows handed to
    * `onDelta` per micro-batch (sink-before-state commit order — see
    * [[processBatch]]), hash state maintained at `statePath`. NOT
    * wrapped in [[Streams.isolated]]: a failed stateful batch must fail
    * the query so Structured Streaming replays it, not be logged and
    * skipped — swallowing the throw after the sink/state handshake
    * would turn at-least-once into silent at-most-once. With
    * `checkpoint` set, a restarted query resumes from the offset log
    * and replays the failed batch (IncrementalStreamSpec drives that
    * path end-to-end). */
  def start(recrawl: Dataset[Recrawl], statePath: String, name: String,
      checkpoint: Option[String] = None)(
      onDelta: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = recrawl.toDF().writeStream
      .queryName(name)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, statePath, batchId)(onDelta)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
