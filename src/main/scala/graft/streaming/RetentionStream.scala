package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** An event entering the retention tracker. */
final case class RetEvent(userId: Long, ts: Timestamp)

/** One observed (user, week) activity cell under the user's
  * current-best cohort assignment. A user's cells are SUPERSEDED as a
  * set when a late earlier event re-bases their cohort (cohortWeek
  * only ever decreases): the authoritative reading keeps, per user,
  * only the cells carrying the user's MINIMUM cohortWeek. */
final case class RetCell(userId: Long, cohortWeek: Timestamp, weekOffset: Long)

/** Streaming twin of the batch `retention_cohorts` — the cohort
  * triangle as a continuous query. Per-user state is TWO longs: the
  * epoch-week of the user's earliest-seen event (a running MIN — the
  * cohort) and a 64-bit BITMASK of week offsets already emitted under
  * that cohort. Both folds are CRDTs (min, set-union), so replaying
  * the corpus through ANY micro-batch split with any at-least-once
  * duplication converges to the batch assignment — including the case
  * the batch op never faces: a LATE event EARLIER than the user's
  * known cohort week re-bases the cohort, and the tracker re-emits the
  * user's full corrected cell set under the new (smaller) cohortWeek;
  * stale cells in the append sink are superseded per the [[RetCell]]
  * contract (keep min-cohort cells per user), which
  * `RetentionStreamSpec` proves equals batch `retention_cohorts` for
  * in-order, shuffled, duplicated, AND late-cohort deliveries.
  *
  * Horizon: offsets ≥ 64 weeks (the mask width) fail LOUDLY rather
  * than silently dropping a cell — a production tracker widens the
  * mask or ages users out via state timeout; harness streams span
  * weeks, not years.
  *
  * Scale shape: O(users) state at 2 longs each, no per-event
  * retention; lifetime emission volume ≤ users × 64 cells (plus
  * re-based corrections, each bounded by the same 64). */
object RetentionStream {

  private val HorizonWeeks = 64

  /** Epoch day of the ISO-Monday truncation of `ts` — the same
    * date_trunc('week') grid both engines use (offsets divide by 7
    * against the cohort's Monday, so no epoch-alignment constant is
    * needed). Truncation is pinned to UTC explicitly: the batch twin
    * runs under the session time zone Sessions.scala pins to UTC, and
    * Timestamp.toLocalDateTime would instead read the JVM DEFAULT zone
    * — on a non-UTC host that shifts events near local midnight into
    * the wrong ISO week and breaks the spec-pinned streaming==batch
    * bit equality. */
  def weekIndex(ts: Timestamp): Long = {
    val d = java.time.LocalDate.ofInstant(ts.toInstant, java.time.ZoneOffset.UTC)
    val monday = d.minusDays(d.getDayOfWeek.getValue - 1L)
    monday.toEpochDay
  }
  private def weekTs(mondayEpochDay: Long): Timestamp =
    Timestamp.from(java.time.LocalDate.ofEpochDay(mondayEpochDay)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)

  /** (cohortMondayEpochDay, emittedMask) per user. */
  private type St = (Long, Long)

  def cells(events: Dataset[RetEvent]): Dataset[RetCell] = {
    val spark = events.sparkSession
    import spark.implicits._
    Streams.keyedFold(events)(_.userId, zero = (Long.MaxValue, 0L): St) {
      case (user, (prevCohort, prevMask), incoming) =>
        val weeks = incoming.map(e => weekIndex(e.ts)).toSeq.distinct
        val cohort = math.min(prevCohort, weeks.min)
        val rebased = cohort != prevCohort && prevCohort != Long.MaxValue
        // on a re-base every previously emitted offset is wrong (its
        // base moved): clear the mask and fold the OLD weeks back in
        // at their corrected offsets so the re-emission is complete
        val carried =
          if (!rebased) Nil
          else (0 until HorizonWeeks).filter(b => (prevMask & (1L << b)) != 0L)
            .map(b => prevCohort + b * 7L)
        val mask0 = if (rebased) 0L else prevMask
        val offsets = (weeks ++ carried).map(w => (w - cohort) / 7L).distinct
        offsets.foreach { o =>
          require(o >= 0 && o < HorizonWeeks,
            s"retention horizon exceeded for user $user: offset $o")
        }
        val fresh = offsets.filter(o => (mask0 & (1L << o)) == 0L)
        val mask = fresh.foldLeft(mask0)((m, o) => m | (1L << o))
        ((cohort, mask), fresh.sorted.map(o => RetCell(user, weekTs(cohort), o)))
    }
  }
}
