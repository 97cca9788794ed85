package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.operators.Curation

/** One incoming document to drift-check, tagged with its source. */
case class SourcedDoc(doc_id: Long, source: String, text: String)

/** Streaming twin of [[graft.operators.Curation.sourceUnigramDrift]] —
  * the drift report's actual deployment shape: the reference unigram
  * distribution is trained ONCE on a trusted corpus, FROZEN, and every
  * micro-batch of incoming documents is scored against it with the
  * SAME [[Curation.driftAgainst]] the batch report runs — a rising
  * per-source TV across batches is the live signal that a crawl
  * source changed its content mix (boilerplate flood, language shift,
  * spam injection) and should be quarantined before it reaches the
  * training mix. Batch/stream parity is by shared scoring code, not a
  * re-implementation that can drift (the [[DsirStream]] contract).
  *
  * Unlike the batch report — where every scored term is a corpus term
  * by construction — a streaming batch can carry vocabulary the
  * reference has NEVER seen; [[Curation.driftAgainst]]'s left join
  * gives such terms zero reference mass, so they contribute their full
  * batch probability to the distance and a fully-novel source scores
  * the maximum TV (the spec pins that endpoint exactly).
  *
  * The frozen model is persisted at [[start]] (the per-term relation
  * is vocabulary-sized — Zipf-small, broadcast-or-shuffle by AQE like
  * every model relation in the engine — and the mass total is one
  * row), so per-batch cost is one scan of the BATCH: token explode,
  * (source, term) aggregate, model join, source-cardinality aggregate.
  * No streaming state — a batch's report depends only on the batch and
  * the frozen reference, so there is nothing to watermark and replay
  * is trivially idempotent. Retraining is a new [[start]] (blue/green,
  * the frozen-artifact lifecycle shared with [[DsirStream]]).
  */
object DriftStream {

  /** Train the reference distribution on `refDir`, freeze it, and
    * drift-score the stream; per-source TV rows for each micro-batch
    * go to `onReport` with the batch id. Model relations are persisted
    * and materialized HERE — a cold first batch must not silently
    * retrain on a cache eviction — and released when the query
    * terminates (pt is vocabulary-sized, the costliest of the frozen
    * artifacts to leak). */
  def start(docs: Dataset[SourcedDoc], refDir: String, name: String)(
      onReport: (DataFrame, Long) => Unit): StreamingQuery = {
    // the reference distribution derives from the SAME token-count
    // pass the batch report runs (Curation.driftCounts) — the
    // parity-by-shared-code contract covers training, not just scoring
    val ct = Curation.driftCounts(Tables.documents(docs.sparkSession, refDir))
      .groupBy("term").agg(sum(col("n_st")).as("n_t"))
    val (pt0, pTotal0) = Curation.driftModel(ct)
    val pt = pt0.persist()
    val pTotal = pTotal0.persist()
    pt.count(); pTotal.count()
    Streams.handOff(docs, name, pinned = Seq(pt, pTotal))(
      Curation.driftAgainst(_, pt, pTotal))(onReport)
  }
}
