package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Semantic

/** Streaming twin of [[Semantic.embeddingDecontam]] — the
  * decontamination gate AT INGEST: the held-out eval suite is frozen
  * once (a persisted ≤ [[Semantic.EvalN]]-row relation), and every
  * arriving vector is scored against it before it can enter the
  * training corpus; contaminated vectors are reported, clean ones pass
  * through. This is the operating mode a deployment actually wants —
  * blocking an eval leak at the door costs one bounded broadcast per
  * batch, while letting it in costs a full corpus-scale audit later
  * (the batch query this twins).
  *
  * Every batch runs the SAME [[Semantic.decontamMatches]] threshold
  * core as the batch audit — parity by shared code, exact
  * `graft_mulge` arithmetic, no float anywhere — joined stream-static
  * against the frozen eval relation (stateless: no watermark, no
  * aggregation state; replay re-scores identically because the
  * verdict is a pure function of (vector, frozen suite)). */
object DecontamStream {

  /** Freeze `refDir`'s eval suite and gate the stream; per-batch
    * verdict rows (vec_id, n_matched, keep) go to `onGated` with the
    * batch id. */
  def start(vecs: Dataset[IncomingVec], refDir: String, name: String)(
      onGated: (DataFrame, Long) => Unit): StreamingQuery = {
    val ev = Semantic.decontamEvalRel(vecs.sparkSession, refDir).persist()
    require(ev.count() > 0, s"empty eval suite from $refDir — nothing to gate against")
    Streams.handOff(vecs, name, pinned = Seq(ev)) { batch =>
      val q = Semantic.quantSigned(batch)
      q.select("vec_id")
        .join(Semantic.decontamMatches(q, ev), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), coalesce(col("n_matched"), lit(0L)).as("n_matched"))
        .withColumn("keep", col("n_matched") === 0L)
    }(onGated)
  }
}
