package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** An event entering the SCD2 builder. */
final case class ScdEvent(userId: Long, ts: Timestamp, eventId: Long,
  eventType: String)

/** One emitted dimension version. `validTo = None` marks an OPEN
  * version; a later CLOSED emission for the same (userId, version)
  * supersedes it — the authoritative reading keeps, per (user,
  * version), the closed row when both exist. */
final case class ScdVersion(userId: Long, eventType: String,
  validFrom: Timestamp, validTo: Option[Timestamp], version: Long,
  isCurrent: Boolean)

/** Streaming twin of the batch `scd2_history` (X121) — the type-2
  * dimension maintained continuously at ingest, the way a CDC consumer
  * actually builds `dim_*_history`. Per-user state is one open version
  * (type, valid_from, version counter) beside the replay watermark; on
  * a type change the tracker emits the CLOSED previous version and the
  * new OPEN one, so the append sink always contains every closed
  * interval plus a supersedable open row per user ([[ScdVersion]]
  * contract).
  *
  * Delivery — deliberately DIFFERENT from the CRDT trackers
  * ([[RetentionStream]]): SCD2 interval closing is not commutative, so
  * the builder folds under [[Streams.replayGated]]'s per-key ordered
  * contract, keyed by user; at-least-once redelivery of any prefix
  * converges bit-identically ([[Scd2StreamSpec]] proves replay ≡
  * batch).
  *
  * Scale shape: O(users) state at one small tuple each; lifetime
  * emission ≤ 2 × version count. Reference analog: the chat scrapers'
  * per-key last-value state (`scrapers/chat.py`) is the type-1
  * degenerate case of exactly this fold.
  */
object Scd2Stream {

  import Streams.fromMicros

  /** Per-user state beside the watermark: (curType, curFromMicros,
    * version); curType is null before the first event. */
  def versions(events: Dataset[ScdEvent]): Dataset[ScdVersion] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.replayGated(events)(_.userId, _.ts, _.eventId, zero = (null: String, 0L, 0L)) {
      (user, open, admitted) =>
        var (curType, curFrom, version) = open
        val out = scala.collection.mutable.ArrayBuffer.empty[ScdVersion]
        admitted.foreach { case (e, t) =>
          if (curType == null) {
            version = 1L
            curType = e.eventType; curFrom = t
            out += ScdVersion(user, curType, fromMicros(t), None, version, isCurrent = true)
          } else if (e.eventType != curType) {
            out += ScdVersion(user, curType, fromMicros(curFrom),
              Some(fromMicros(t)), version, isCurrent = false)
            version += 1L
            curType = e.eventType; curFrom = t
            out += ScdVersion(user, curType, fromMicros(t), None, version, isCurrent = true)
          }
        }
        ((curType, curFrom, version), out)
    }
  }
}
