package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Curation, Dedup}

/** A document entering the weighted sampler: weight is its n_chars. */
final case class WorDoc(docId: Long, source: String, nChars: Long)

/** One slot of a source's CURRENT sample — the full sample is re-emitted
  * whenever a batch changes it (Update-mode semantics). */
final case class WorPick(source: String, rank: Long, docId: Long, priority: Long)

/** Streaming twin of the batch `weighted_sample_wor` — the weighted
  * without-replacement sampler's continuous form: docs arrive forever,
  * and each source maintains its running K-doc weighted sample (the
  * K smallest sequential-Poisson priorities seen so far). Because the
  * priority is a content-keyed pure function of (doc_id, n_chars) —
  * the batch op's exact fixed-point `(u·10⁶) div w` — the fold is
  * order-insensitive and idempotent: replaying the whole corpus
  * through ANY micro-batch split (with any at-least-once duplication)
  * ends in the batch query's rows bit-for-bit, which
  * `WorSampleStreamSpec` proves.
  *
  * Scale shape: state per source is its ≤ [[Curation.WorK]]
  * (priority, doc_id) pairs — O(domains·K) longs TOTAL regardless of
  * stream length, inside the streaming layer's standing state-size
  * rule (DriftStream's frozen vocab, BudgetStream's one long,
  * AnnMonitorStream's O(queries·k)); nothing per-doc is retained and
  * no watermark is needed. A batch that changes nothing for a source
  * emits nothing for it. */
object WorSampleStream {

  /** The batch op's priority: u/w as fixed-point integer, u a
    * content-keyed md5 coin — the same arithmetic as the Spark-side
    * `h60('wor:'||doc_id) % 2^30 + 1`, evaluated in the JVM. */
  def priority(docId: Long, nChars: Long): Long = {
    val u = Dedup.h60(s"wor:$docId") % Curation.WorCoinMod + 1
    u * Curation.WorScale / nChars
  }

  /** Maintain each source's running weighted sample. */
  def sample(docs: Dataset[WorDoc]): Dataset[WorPick] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sampled = docs.filter(_.nChars > 0) // the batch op's w > 0 precondition
    Streams.keyedFold(sampled, OutputMode.Update())(_.source, zero = Seq.empty[(Long, Long)]) {
      (source, prev, incoming) =>
        // fold the batch in: distinct (pri, id) pairs make redelivery
        // a no-op (docs are immutable — same id ⇒ same priority), and
        // the K smallest under (pri ASC, id ASC) is the kernel's
        // exact total order, so the result is split-invariant
        val next = (prev ++ incoming.map(d => (priority(d.docId, d.nChars), d.docId)))
          .distinct.sorted.take(Curation.WorK)
        (next, if (next == prev) Nil else next.zipWithIndex.map { case ((pri, id), i) =>
          WorPick(source, (i + 1).toLong, id, pri)
        })
    }
  }
}
