package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TrainingMix

/** One incoming crawl document to score. */
case class IncomingDoc(doc_id: Long, lang: String, text: String)

/** Streaming twin of [[graft.operators.TrainingMix.dsirSelect]] — the
  * method's actual deployment shape (Xie et al. 2023 train the hashed
  * importance model ONCE on target+raw reference corpora, then score
  * the crawl as it arrives): the model is trained offline from a
  * reference directory, FROZEN, and every micro-batch of incoming docs
  * is scored against it with the SAME [[TrainingMix.dsirScore]] the
  * batch query runs — batch/stream parity is by shared code, not by a
  * re-implementation that can drift.
  *
  * The frozen model is persisted (8192-bucket relation + 1-row mean —
  * the constant-size design point) at [[start]], so per-batch cost is
  * one scan of the BATCH: gram explode, a join against the in-memory
  * model (broadcast-sized at any corpus scale), one per-doc aggregate.
  * No streaming state at all — a doc's score depends only on the doc
  * and the frozen model, so there is nothing to watermark and replay
  * is trivially idempotent. Retraining is a new [[start]] (blue/green:
  * campaigns score with model N while N+1 trains — the same frozen-
  * artifact lifecycle as a deployed tokenizer or quality classifier).
  */
object DsirStream {

  /** Train on `refDir`, freeze, and score the stream; scored rows for
    * each micro-batch go to `onScored` with the batch id. The model
    * relations are persisted and materialized HERE — a cold first
    * batch would otherwise re-run the training aggregate, and a
    * query's model must not silently retrain on a cache eviction
    * (count() pins the blocks before the first batch runs). Each
    * generation is released when its query terminates. */
  def start(docs: Dataset[IncomingDoc], refDir: String, name: String)(
      onScored: (DataFrame, Long) => Unit): StreamingQuery = {
    val (model0, mean0) = TrainingMix.dsirModel(docs.sparkSession, refDir)
    val model = model0.persist()
    val mean = mean0.persist()
    model.count(); mean.count()
    Streams.handOff(docs, name, pinned = Seq(model, mean))(
      TrainingMix.dsirScore(_, model, mean))(onScored)
  }
}
