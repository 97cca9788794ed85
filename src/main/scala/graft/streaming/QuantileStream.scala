package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A value observation entering the quantile tracker. */
final case class QObs(eventType: String, value: Double)

/** A keyed-CDC observation for the replay-gated tracker: `(ts,
  * eventId)` is the per-type delivery order the gate advances along. */
final case class QEvent(eventType: String, value: Double, ts: Timestamp,
  eventId: Long)

/** One per-batch histogram increment: adding `dc` to the (eventType,
  * cents) cell. Summing all emitted deltas reconstructs the batch
  * histogram exactly. */
final case class HistDelta(eventType: String, cents: Long, dc: Long)

/** Streaming twin of the batch `histogram_quantiles` (X134) — the
  * monitoring-system quantile path run as a continuous query: the
  * stream maintains the (event_type, cents) COUNT HISTOGRAM as its
  * aggregation state (complete-mode output), and quantiles are read
  * from the histogram table with the BATCH query's own extraction
  * code (`Olap.quantilesOfHist`) — parity by shared code, the
  * DsirStream/PqStream discipline.
  *
  * Why this state is sound where a per-type sorted-list tracker is
  * not: the histogram is bounded by the VALUE DOMAIN (cents), not the
  * stream length — the same argument as the batch op — and counts are
  * a commutative monoid, so any micro-batch split converges to the
  * batch histogram exactly.
  *
  * Delivery: [[histogram]] is the exactly-once-source spelling (the
  * Structured Streaming default with replayable sources + idempotent
  * sinks); at-least-once REDELIVERY would double-count it. For an
  * at-least-once keyed CDC source, [[trackedDeltas]] is the
  * replay-gated spelling ([[Streams.replayGated]], keyed by event_type):
  * it emits per-batch histogram DELTAS — a monoid, so the downstream
  * rollup (a second streaming agg or a batch sum) reconstructs the
  * exact histogram under arbitrary prefix redelivery
  * ([[QuantileStreamSpec]] proves replay ≡ batch).
  *
  * Scale shape: complete-mode state rows ≤ types × cents-domain;
  * tracked-gate state is ONE (watermark, count) tuple per event_type;
  * updates map-side combinable within every micro-batch.
  */
object QuantileStream {

  /** The streaming histogram aggregate — the state the tracker keeps. */
  def histogram(obs: Dataset[QObs]): DataFrame =
    obs.toDF("event_type", "value")
      .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))

  /** Quantiles from a materialized histogram table — the batch
    * query's own extraction, re-exported for sink-side reads. */
  def quantiles(hist: DataFrame): DataFrame =
    graft.operators.Olap.quantilesOfHist(hist)

  /** Exact cents bucket of `value` — the JVM spelling of the batch
    * `CAST(floor(value * 100) AS BIGINT)` (both are IEEE double
    * multiply + floor, bit-identical). */
  private def centsOf(value: Double): Long = math.floor(value * 100).toLong

  /** Replay-gated histogram deltas for an at-least-once ordered keyed
    * CDC source: one delta per (event_type, cents) per batch. The
    * per-type state beside the watermark is the number of values
    * counted so far, which that type's deltas sum to. */
  def trackedDeltas(events: Dataset[QEvent]): Dataset[HistDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.replayGated(events)(_.eventType, _.ts, _.eventId, zero = 0L) { (etype, n, admitted) =>
      val delta = admitted.groupMapReduce { case (e, _) => centsOf(e.value) }(_ => 1L)(_ + _)
      (n + admitted.size, delta.map { case (c, dc) => HistDelta(etype, c, dc) })
    }
  }
}
