package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** An event entering the volume tracker. */
final case class VolObs(eventType: String, ts: Timestamp)

/** A keyed-CDC event for the replay-gated tracker: `(ts, eventId)` is
  * the per-type delivery order the gate advances along. */
final case class VolEvent(eventType: String, ts: Timestamp, eventId: Long)

/** One per-batch daily-count increment: adding `dn` to the
  * (eventType, day) cell. Summing all emitted deltas reconstructs the
  * batch daily histogram exactly. */
final case class DailyDelta(eventType: String, day: Timestamp, dn: Long)

/** Streaming twin of the batch `anomaly_mad` (X120) — continuous
  * daily-volume monitoring: the stream maintains the (event_type, day)
  * COUNT HISTOGRAM as its aggregation state (complete mode; counts are
  * a commutative monoid, so any micro-batch split converges exactly),
  * and the MAD medians + 3-MAD verdicts are read from the histogram
  * with the BATCH query's own extraction (`Windows.madOfDaily`) —
  * parity by shared code, the QuantileStream discipline. The verdict
  * for PAST days sharpens as the median window grows, which is the
  * correct monitoring semantics (a flag is relative to the baseline
  * known so far).
  *
  * Delivery: [[daily]] is the exactly-once-source spelling;
  * at-least-once REDELIVERY would double-count it. For an
  * at-least-once keyed CDC source, [[trackedDeltas]] is the
  * replay-gated spelling ([[Streams.replayGated]], keyed by event_type):
  * it emits per-batch daily-count DELTAS — a monoid, so the downstream
  * rollup reconstructs the exact daily histogram under arbitrary prefix
  * redelivery ([[AnomalyStreamSpec]] proves replay ≡ batch).
  *
  * Scale shape: complete-mode state rows ≤ types × days
  * (calendar-bounded — the batch op's own histogram bound);
  * tracked-gate state is ONE (watermark, count) tuple per event_type;
  * map-side combinable per batch.
  */
object AnomalyStream {

  /** The streaming daily histogram — the state the tracker keeps. */
  def daily(obs: Dataset[VolObs]): DataFrame =
    obs.toDF("event_type", "ts")
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** MAD flags from a materialized histogram — the batch extraction. */
  def flags(daily: DataFrame): DataFrame =
    graft.operators.Windows.madOfDaily(daily)

  /** UTC day start of `ts` — the JVM spelling of the batch
    * `date_trunc('DAY', ts)` under the session time zone Sessions.scala
    * pins to UTC. Pinned to UTC explicitly (the RetentionStream
    * lesson): Timestamp.toLocalDateTime would read the JVM DEFAULT
    * zone and shift near-midnight events into the wrong day on a
    * non-UTC host. */
  private def dayStartUtc(ts: Timestamp): Timestamp =
    Timestamp.from(java.time.LocalDate
      .ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)

  /** Replay-gated daily-count deltas for an at-least-once ordered
    * keyed CDC source: one delta per (event_type, day) per batch. The
    * per-type state beside the watermark is the number of events
    * counted so far, which that type's deltas sum to. */
  def trackedDeltas(events: Dataset[VolEvent]): Dataset[DailyDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.replayGated(events)(_.eventType, _.ts, _.eventId, zero = 0L) { (etype, n, admitted) =>
      val delta = admitted.groupMapReduce { case (e, _) => dayStartUtc(e.ts) }(_ => 1L)(_ + _)
      (n + admitted.size, delta.map { case (d, dn) => DailyDelta(etype, d, dn) })
    }
  }
}
