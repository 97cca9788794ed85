package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Dedup, Featurize}

/** A document entering the preference miner. */
final case class PrefDoc(docId: Long, source: String, lang: String, text: String)

/** A stratum's CURRENT preference pair — re-emitted whenever a batch
  * improves it (Update-mode semantics). */
final case class PrefPair(source: String, lang: String,
    chosenId: Long, rejectedId: Long, margin: Long)

/** Streaming twin of the batch `pref_pair_mine` — preference-pair
  * construction as a continuous query: docs arrive forever, each
  * (source, lang) stratum maintains its running (best, worst) under
  * the quality model, and emits its pair whenever the pair changes.
  * The per-doc score is a content-keyed pure function of the text
  * (the batch op's exact integer linear model, evaluated in the JVM),
  * so the running max/min fold is ORDER-INSENSITIVE and IDEMPOTENT:
  * replaying the corpus through any micro-batch split, with any
  * at-least-once redelivery, converges to the batch query's pairs
  * bit-for-bit (`PrefPairStreamSpec` proves it). The margin is
  * MONOTONE non-decreasing (max only grows, min only shrinks), so a
  * stratum crosses the margin-0 gate at most once and never retracts
  * an emitted pair — the property that lets a downstream trainer
  * consume pairs as they appear.
  *
  * The one deliberate delta from the batch op: no `n_docs` column —
  * an exact stratum cardinality under at-least-once delivery needs
  * per-doc dedup state (unbounded), and the pair itself doesn't.
  * Stated here and pinned by the spec's column set.
  *
  * Scale shape: state per stratum is two (score, id) pairs — four
  * longs, O(sources × langs) TOTAL regardless of stream length,
  * inside the streaming layer's standing state-size rule
  * (WorSampleStream's O(domains·K), BudgetStream's one long). No
  * watermark needed; a batch that improves nothing emits nothing. */
object PrefPairStream {

  /** The batch op's per-doc score: Σ_tokens weight(h60(token) mod Dim)
    * — same md5-prefix hash, same [[Featurize.weight]] table. */
  def score(text: String): Long =
    text.split(" ", -1).map(tk => Featurize.weight((Dedup.h60(tk) % Featurize.Dim).toInt)).sum

  /** (bestScore, bestId, worstScore, worstId) per stratum. */
  private type St = (Long, Long, Long, Long)

  /** Maintain each stratum's running preference pair. */
  def pairs(docs: Dataset[PrefDoc]): Dataset[PrefPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // zero: a best and a worst that every real doc displaces
    Streams.keyedFold(docs, OutputMode.Update())(d => (d.source, d.lang),
        zero = (Long.MinValue, Long.MaxValue, Long.MaxValue, Long.MaxValue): St) {
      case ((source, lang), prev @ (bs, bi, ws, wi), incoming) =>
        // fold the batch: the batch op's exact total order — chosen is
        // max(score, −id) (ties → smaller id), rejected min(score, id).
        // Redelivery is a no-op: same doc ⇒ same (score, id) ⇒ the
        // running extremes are unchanged.
        val scored = incoming.map(d => (score(d.text), d.docId)).toSeq
        val (nbs, nbi) = ((bs, bi) +: scored).maxBy { case (s, id) => (s, -id) }
        val (nws, nwi) = ((ws, wi) +: scored).min
        val next = (nbs, nbi, nws, nwi)
        (next, if (next == prev || nbs <= nws) None
          else Some(PrefPair(source, lang, nbi, nwi, nbs - nws)))
    }
  }
}
