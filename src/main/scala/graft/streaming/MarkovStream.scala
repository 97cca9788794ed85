package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** An event entering the transition tracker. */
final case class MkvEvent(userId: Long, ts: Timestamp, eventId: Long,
  eventType: String)

/** One observed (prev → next) transition. */
final case class Transition(prevType: String, nextType: String)

/** Streaming twin of the batch `markov_transitions` (X126) — the
  * transition stream extracted continuously at ingest: per-user state
  * is ONE tuple (last event's ts/id/type); each in-order arrival emits
  * its (prev, next) edge and advances the state. The transition MATRIX
  * is then a plain count over the emitted edges — monoid, so any
  * downstream consumer (a second streaming agg, a batch rollup) gets
  * the batch matrix exactly.
  *
  * Delivery: consecutive-pair extraction is order-sensitive, so the
  * tracker folds under [[Streams.replayGated]] keyed by user;
  * at-least-once prefix redelivery converges bit-identically
  * ([[MarkovStreamSpec]]).
  *
  * Scale shape: O(users) state, one small tuple each; lifetime
  * emission = transitions (events − users). */
object MarkovStream {

  /** Per-user state beside the watermark: the last event's type (null
    * before the first). */
  def transitions(events: Dataset[MkvEvent]): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.replayGated(events)(_.userId, _.ts, _.eventId, zero = null: String) {
      (_, lastType, admitted) =>
        var last = lastType
        val out = admitted.flatMap { case (e, _) =>
          val edge = Option(last).map(Transition(_, e.eventType))
          last = e.eventType
          edge
        }
        (last, out)
    }
  }
}
