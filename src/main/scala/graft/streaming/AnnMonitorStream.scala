package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.Semantic

/** One (query, candidate) ADC score inside the monitor. */
case class AnnScored(q_id: Long, adist: Long, vec_id: Long)

/** A standing query's current neighbor — emitted whenever a batch
  * changes the query's top-k. */
case class AnnTopkUpdate(q_id: Long, rank: Long, vec_id: Long, adist: Long)

/** Continuous-ANN monitor — the STATEFUL streaming twin of
  * [[Semantic.pqAdcTopk]]: a set of standing queries watches the
  * vector stream, and each arriving micro-batch updates every
  * standing query's current top-k nearest neighbors (the "alert me
  * when something closer to my query arrives" deployment — dedup
  * sentinels over an embedding firehose, retrieval-index freshness
  * monitors).
  *
  * Per batch: encode the batch against the FROZEN codebooks
  * ([[PqStream]]'s artifact — plan literals), ADC-score it against the
  * FROZEN standing-query tables (a 10-row static broadcast joined to
  * the stream — stream-static joins are stateless), then fold the
  * scored candidates into per-query bounded-heap STATE with
  * [[Streams.keyedFold]]: state per standing query is its current
  * ≤ k (adist, vec_id) pairs — O(queries·k) longs TOTAL regardless of
  * stream length, the same bound [[graft.expressions.TopKMin]] gives
  * the batch ranking and comfortably inside the streaming layer's
  * state-size rule. A batch that changes nothing for a query emits
  * nothing for it (Update-mode semantics).
  *
  * Determinism: the fold keeps the k smallest under (adist ASC,
  * vec_id ASC) — [[graft.expressions.TopKMin]]'s exact total order —
  * so replaying the whole corpus through ANY micro-batch split ends
  * in the batch query's rows bit-for-bit
  * (`AnnMonitorStreamSpec` proves it).
  *
  * Vector updates: at most one state entry per vec_id, LATEST
  * delivery wins in both directions — an improved re-delivery
  * displaces upward, a worsened one drops its stale entry and
  * re-competes (and may leave the top-k; the freed slot refills only
  * from later deliveries, because O(k) state cannot resurrect
  * candidates it already evicted — the inherent bounded-state
  * monitor trade; a deployment needing exact revocation recovery
  * keeps the full scored relation instead, at O(corpus) state). */
object AnnMonitorStream {

  /** Train codebooks on `refDir`, freeze the standing-query ADC
    * tables, and monitor the stream; each micro-batch's top-k UPDATES
    * go to `onUpdate` with the batch id. */
  def start(vecs: Dataset[IncomingVec], refDir: String, name: String)(
      onUpdate: (Dataset[AnnTopkUpdate], Long) => Unit): StreamingQuery = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = Semantic.pqTrainOn(spark, refDir)
    require(cents.head.nonEmpty,
      s"empty reference corpus at $refDir — no codebook to freeze")
    // the frozen standing-query relation (10 rows of M×K-long ADC
    // tables) — persisted once, joined to every batch as a static side
    val qrel = Semantic.pqQueryTables(spark, refDir, cents).persist()
    qrel.count()
    val k = Semantic.PqTopK

    val scored = Semantic.pqAdcScore(vecs.toDF(), cents, qrel)
      .select(col("q_id"), col("adist"), col("vec_id")).as[AnnScored]

    val updates = Streams.keyedFold(scored, OutputMode.Update())(_.q_id,
      zero = Seq.empty[(Long, Long)]) { (qId, prev, incoming) =>
      // fold the batch into the bounded heap: k smallest under the
      // kernel's (adist, vec_id) total order, AT MOST ONE entry
      // per vec_id with the LATEST delivery winning — a vec_id
      // re-delivered with a changed embedding (vector update /
      // replay) displaces its old score in BOTH directions: its
      // stale state entry is dropped first, then its batch-best
      // score competes fresh. A worsened vector may thus fall out
      // of the top-k entirely; the freed slot refills only from
      // later deliveries (bounded O(k) state cannot resurrect
      // previously evicted candidates — the inherent top-k-monitor
      // trade, stated in the class scaladoc). Within a batch a
      // duplicated vec_id folds to its best score (micro-batches
      // are unordered sets). Batch + state both small (≤ batch
      // candidates per query; state ≤ k), so group-min +
      // sort-take IS the bounded heap here
      val batchBest = incoming.map(s => (s.adist, s.vec_id)).toSeq
        .groupBy(_._2).valuesIterator.map(_.min).toSeq
      val redelivered = batchBest.map(_._2).toSet
      val next = (prev.filterNot(e => redelivered.contains(e._2)) ++ batchBest)
        .sorted.take(k)
      (next, if (next == prev) Nil else next.zipWithIndex.map { case ((d, v), i) =>
        AnnTopkUpdate(qId, (i + 1).toLong, v, d)
      })
    }

    val query = updates.writeStream
      .queryName(name)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[AnnTopkUpdate], batchId: Long) =>
        onUpdate(batch, batchId)
      }
      .start()
    Streams.unpersistOnTermination(spark, query, Seq(qrel))
    query
  }
}
