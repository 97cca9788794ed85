package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** A document entering the incremental near-dup gate. */
final case class NearDupDoc(doc_id: Long, text: String)

/** Streaming twin of the MinHash-LSH candidate family — incremental
  * near-dup detection AT INGEST: the corpus's banded signature index is
  * frozen once (the SAME staged relation the batch campaign
  * materializes — [[Dedup.frozenBandRel]]), and every arriving document
  * is signed, banded, and probed against it; candidate (new doc,
  * corpus doc) pairs go to the caller before the doc enters the corpus.
  * This resolves the r15-carried design question "is a signature-family
  * twin worth its state?" with the shape that needs NO state at all:
  * the corpus-sized signatures live in the FROZEN STATIC relation (at
  * scale, the bucketed stage table reliable storage already holds), not
  * in streaming state — the per-batch work is a broadcast of the
  * micro-batch's own band keys plus a map-side probe, and the stream
  * carries zero watermarks, zero aggregation state, zero timers.
  *
  * Parity by shared code: signature + banding are
  * [[Dedup.minhashSigOf]]/[[Dedup.bandedOf]] — the batch family's own
  * projections — so a replayed corpus recovers exactly the batch
  * candidate set ([[NearDupStreamSpec]] proves set equality under
  * arbitrary micro-batch splits and at-least-once duplication; the
  * verdict is a pure function of (doc, frozen index)).
  *
  * What this twin deliberately does NOT do: update the index with the
  * arriving docs (stream-vs-stream candidates). That variant re-creates
  * the corpus-sized-state problem the frozen-index design avoids; a
  * deployment instead re-stages the index on a compaction cadence and
  * replays the in-between tail — the standard lambda hand-off.
  */
object NearDupStream {

  /** Freeze `refDir`'s LSH index and probe the stream; per-batch
    * candidate rows (doc_id, cand_id) go to `onCandidates` with the
    * batch id. */
  def start(docs: Dataset[NearDupDoc], refDir: String, name: String)(
      onCandidates: (DataFrame, Long) => Unit): StreamingQuery = {
    val index = Dedup.frozenBandRel(docs.sparkSession, refDir).persist()
    // A legitimately empty (or not-yet-staged) reference corpus is a
    // valid gate that emits no candidates — log it instead of refusing
    // to construct the stream (r18 ADVICE). The count doubles as the
    // index materialization the first batch would otherwise pay.
    if (index.count() == 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft NearDupStream: empty LSH index from $refDir — the stream will emit no candidates")
    Streams.handOff(docs, name, pinned = Seq(index))(
      Dedup.streamCandidates(_, index))(onCandidates)
  }
}
