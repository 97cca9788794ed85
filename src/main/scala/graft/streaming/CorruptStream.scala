package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TrainingMix

/** Streaming twin of [[TrainingMix.spanCorruption]] — denoising
  * instances built AT INGEST, the operating mode of a pretraining
  * pipeline that corrupts as documents arrive instead of re-scanning
  * the corpus per epoch. Every micro-batch runs the SAME
  * [[TrainingMix.spanCorrupt]] projection as the batch query — parity
  * by shared code, and because the mask coin is content-keyed
  * (`h60('mask:' || doc_id || ':' || pos)`), a replayed or
  * re-delivered doc produces BYTE-IDENTICAL instances: corruption is
  * idempotent under at-least-once delivery with no dedup state at all
  * (the property a rand() mask would force a stateful dedup to fake).
  *
  * Stateless: no join, no watermark, no aggregation — a batch's cost
  * is one row-parallel projection through [[Streams.handOff]] (fail the
  * batch, let Structured Streaming replay). */
object CorruptStream {

  /** Corrupt the stream; per-batch instance-geometry rows go to
    * `onInstances` with the batch id. */
  def start(docs: Dataset[IncomingDoc], name: String)(
      onInstances: (DataFrame, Long) => Unit): StreamingQuery =
    Streams.handOff(docs, name)(TrainingMix.spanCorrupt)(onInstances)
}
