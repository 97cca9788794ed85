package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Semantic

/** One incoming vector to encode (an embedded document/image at the
  * ingest boundary). */
case class IncomingVec(vec_id: Long, embedding: Seq[Float])

/** Streaming twin of [[Semantic.pqAdcTopk]]'s ENCODE side — the
  * encode-at-ingest deployment (Jégou et al.'s operating mode at
  * scale: train the codebooks once on a reference corpus, then encode
  * the stream as it arrives; search runs later over the accumulated
  * 4-byte codes, not the raw floats). Every micro-batch is encoded
  * with the SAME [[Semantic.pqEncode]] projection the batch query
  * runs — parity by shared code.
  *
  * The frozen artifact here is even lighter than [[DsirStream]]'s
  * persisted model relation: the codebooks are driver-held literals
  * BAKED INTO THE PLAN (M·K·SubDim longs), so there is no model
  * DataFrame to persist, nothing to unpersist on termination, and a
  * batch's cost is one stateless codegen projection over the batch —
  * no join, no shuffle, no watermark, replay trivially idempotent.
  * Retraining is a new [[start]] (the blue/green artifact lifecycle,
  * same as a deployed tokenizer). */
object PqStream {

  /** Train on `refDir`'s embeddings, freeze, and encode the stream;
    * encoded (vec_id, code0..3) rows for each micro-batch go to
    * `onEncoded` with the batch id. */
  def start(vecs: Dataset[IncomingVec], refDir: String, name: String)(
      onEncoded: (DataFrame, Long) => Unit): StreamingQuery = {
    val cents = Semantic.pqTrainOn(vecs.sparkSession, refDir)
    require(cents.head.nonEmpty,
      s"empty reference corpus at $refDir — no codebook to freeze")
    Streams.handOff(vecs, name)(Semantic.pqEncode(_, cents))(onEncoded)
  }
}
