package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One deadline-funnel level-up: `userId` first reached 1-based
  * `level` (within the 24 h chain deadline) at `t`. Emitted at most
  * once per (user, level) over the stream's lifetime. */
final case class LevelUp(userId: Long, level: Long, t: Timestamp)

/** Streaming twin of the batch `window_funnel` (X141) — the
  * TIME-BOUNDED funnel maintained continuously at ingest. The batch
  * query's per-user max-anchor DP is ALREADY a left-to-right fold, so
  * the stream keeps exactly its accumulator — the three best chain
  * anchors — as per-user state and applies the identical transition to
  * each in-order arrival ([[FunnelEvent]], the X104 twin's event
  * shape); a level's first activation emits one [[LevelUp]].
  * Anchor IMPROVEMENTS after activation update state silently — the
  * level-reached verdict is monotone, so emission stays at-most-once
  * while the DP stays exact for deeper levels.
  *
  * Delivery: the DP is order-sensitive, so the tracker folds under
  * [[Streams.replayGated]] keyed by user; at-least-once prefix
  * redelivery converges bit-identically and re-emits nothing
  * ([[WindowFunnelStreamSpec]] proves replay ≡ batch through the
  * shared report tail).
  *
  * Scale shape: O(users) state at five longs each; lifetime emission
  * ≤ users × levels.
  */
object WindowFunnelStream {

  private val Steps = graft.operators.Windows.funnelStepNames
  private val WindowUs = graft.operators.Windows.FunnelWindowUs

  private val NotReached = graft.operators.Windows.FunnelNotReached

  import Streams.fromMicros

  /** Per-user state beside the watermark: the batch DP's max-anchor
    * accumulator (a1, a2, a3) ([[graft.operators.Windows
    * .FunnelNotReached]] = level not yet reached — Long.MinValue, so a
    * pre-epoch event's NEGATIVE anchor still counts, exactly the batch
    * fold's sentinel). */
  def levelUps(events: Dataset[FunnelEvent]): Dataset[LevelUp] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.replayGated(events)(_.userId, _.ts, _.eventId,
        zero = (NotReached, NotReached, NotReached)) { (user, anchors, admitted) =>
      var (a1, a2, a3) = anchors
      val out = scala.collection.mutable.ArrayBuffer.empty[LevelUp]
      admitted.foreach { case (e, t) =>
        // FULL event-type name → step index (the batch query's
        // isin(FunnelSteps) filter + first-letter symbol fused):
        // an off-inventory event type is a watermark-only no-op,
        // never a step match (r19 ADVICE — first-letter matching
        // held only by the harness inventory's initial-injectivity)
        val s = Steps.indexOf(e.eventType)
        // the batch DP transition, verbatim (Windows.windowFunnel)
        if (s == 0 && t > a1) {
          if (a1 == NotReached) out += LevelUp(user, 1L, fromMicros(t))
          a1 = t
        } else if (s == 1 && a1 > NotReached && t - a1 <= WindowUs && a1 > a2) {
          if (a2 == NotReached) out += LevelUp(user, 2L, fromMicros(t))
          a2 = a1
        } else if (s == 2 && a2 > NotReached && t - a2 <= WindowUs && a2 > a3) {
          if (a3 == NotReached) out += LevelUp(user, 3L, fromMicros(t))
          a3 = a2
        }
      }
      ((a1, a2, a3), out)
    }
  }

  /** The funnel report from a materialized level-up relation — per-
    * level user counts (every level listed, zeros included) through
    * the batch query's own conversion tail. */
  def report(levelUps: DataFrame): DataFrame = {
    val spark = levelUps.sparkSession
    val lattice = spark.createDataFrame(
      Steps.zipWithIndex.map { case (n, i) => (i + 1L, n) })
      .toDF("step", "step_name")
    val counts = levelUps.groupBy(col("level").as("step"))
      .agg(count(lit(1)).as("present"))
    val rows = lattice.join(counts, Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("present"), lit(0L)).as("n_users"))
    graft.operators.Windows.funnelReportOfCounts(rows)
  }
}
