package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** An event entering the funnel tracker. */
final case class FunnelEvent(userId: Long, ts: Timestamp, eventId: Long,
  eventType: String)

/** One step completion: `userId` completed 1-based `step` at `t`.
  * Emitted at most once per (user, step) over the stream's lifetime —
  * append-safe by construction. */
final case class StepCompletion(userId: Long, step: Long, t: Timestamp)

/** Streaming twin of the batch `funnel_report` (X104) — the
  * view → click → purchase conversion funnel maintained continuously
  * at ingest. Per-user state is the step-completion time vector (the
  * verdict-r18 design: O(users) tuples); an in-order arrival of step
  * k's type, strictly after the user's step-(k−1) completion and with
  * step k still open, completes the step and emits ONE
  * [[StepCompletion]]. Processing in (ts, event_id) order makes the
  * stream's first qualifying event per step exactly the batch query's
  * `min(ts)` earliest-qualifying semantics, so per-step user counts —
  * and the report read through the batch's own conversion tail
  * ([[graft.operators.Windows.funnelReportOfCounts]], parity by
  * shared code) — equal batch bit-for-bit ([[FunnelStreamSpec]]).
  *
  * Delivery: step completion is order-sensitive (an out-of-order
  * earlier event could retroactively qualify a step), so the tracker
  * folds under [[Streams.replayGated]] keyed by user; at-least-once
  * prefix redelivery converges bit-identically and re-emits nothing
  * (the spec proves both).
  *
  * Scale shape: O(users) state, one small fixed-width vector each
  * (steps are a compile-time list); lifetime emission ≤ users × steps.
  */
object FunnelStream {

  private val Steps = graft.operators.Windows.funnelStepNames

  /** Per-user state beside the watermark: the completion micros per
    * step, Long.MinValue while a step is open. */
  def completions(events: Dataset[FunnelEvent]): Dataset[StepCompletion] = {
    val spark = events.sparkSession
    import spark.implicits._
    val stepOf: Map[String, Int] = Steps.zipWithIndex.toMap
    Streams.replayGated(events)(_.userId, _.ts, _.eventId,
        zero = Array.fill(Steps.length)(Long.MinValue)) { (user, done, admitted) =>
      var tms = done
      val out = scala.collection.mutable.ArrayBuffer.empty[StepCompletion]
      admitted.foreach { case (e, t) =>
        stepOf.get(e.eventType).foreach { k =>
          val gateOpen = tms(k) == Long.MinValue &&
            (k == 0 || (tms(k - 1) != Long.MinValue && t > tms(k - 1)))
          if (gateOpen) {
            tms = tms.clone() // neither the shared zero nor emitted history is mutated
            tms(k) = t
            out += StepCompletion(user, k + 1L, Streams.fromMicros(t))
          }
        }
      }
      (tms, out)
    }
  }

  /** The funnel report from a materialized completion relation — per-
    * step user counts (every step listed, zero-user steps included)
    * through the batch query's own conversion tail. */
  def report(completions: DataFrame): DataFrame = {
    val spark = completions.sparkSession
    val stepLattice = spark.createDataFrame(
      Steps.zipWithIndex.map { case (n, i) => (i + 1L, n) })
      .toDF("step", "step_name")
    val counts = completions.groupBy("step")
      .agg(count(lit(1)).as("present"))
    val rows = stepLattice.join(counts, Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("present"), lit(0L)).as("n_users"))
    graft.operators.Windows.funnelReportOfCounts(rows)
  }
}
