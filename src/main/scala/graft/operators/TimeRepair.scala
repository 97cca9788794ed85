package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Timestamp-repair operators (SURVEY.md §2.5 W3/W4).
  *
  * The reference's chat pages carry only a time-of-day ("%I:%M:%S %p",
  * scrapers/chat.py:42); walking the page newest→oldest, a time that
  * *increases* means the previous calendar day was crossed, and rollovers
  * cascade across multiple days (golden test
  * test/scrapers/test_chat.py:132-162). Mail timestamps carry month+day
  * but no year (scrapers/mailbox.py:45-52).
  *
  * These are the only order-dependent scans in the reference. W3 needs a
  * running accumulation — a window `sum` over the document order — not a
  * pointwise expression; a single `lag` cannot repair a multi-day cascade.
  */
object TimeRepair {
  /** Deterministic stand-in for "now"/"today" (the reference freezes the
    * clock in tests the same way, via freezegun). Deliberately INSIDE the
    * testdata's ts range (2024-01-01..2024-01-30) so that both branches of
    * the W4 rollover CASE actually fire on real rows — an anchor past the
    * data would make the repair a vacuous pass-through. */
  private val Anchor = "2024-01-15"

  /** W3 core: repair timestamps that carry only a time-of-day, walking a
    * page newest→oldest (scrapers/chat.py:36-51). A row whose time-of-day
    * exceeds its predecessor's (the FIRST row compares against "now"'s
    * time-of-day — the reference seeds `last_ts = now`) crossed a
    * calendar day; the CUMULATIVE rollover count is subtracted in days,
    * reproducing multi-day cascades (golden test
    * test/scrapers/test_chat.py:132-162, replayed through this exact
    * function in TimeRepairSpec).
    *
    * Plan shape: one shuffle on the partition key, one in-partition sort
    * for the window; the running sum is whole-stage-codegen'd. At 100 TB
    * pages are the partition key — no global ordering anywhere.
    *
    * @param docOrder column whose DESCENDING order is document order
    *                 (newest first)
    * @param tod      time-of-day as 'HH:mm:ss' (lexicographic = temporal)
    * @param anchorDate date of "now" ('yyyy-MM-dd'); rows anchor here
    * @param nowTod   time-of-day of "now" — the seed for the first compare
    */
  def monotonicRepair(df: DataFrame, part: String, docOrder: String, tod: String,
      anchorDate: String, nowTod: String): DataFrame = {
    val w = Window.partitionBy(part).orderBy(col(docOrder).desc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("roll",
        when(col(tod) > lag(col(tod), 1, nowTod).over(w), 1).otherwise(0))
      .withColumn("days_back", sum(col("roll")).over(wRun).cast("int"))
      .withColumn("repaired_ts",
        to_timestamp(concat(lit(s"$anchorDate "), col(tod)))
          - make_dt_interval(col("days_back")))
  }

  /** W3 `monotonic_ts_repair` — the oracle-checked form over testdata:
    * each user's events are a "page", document order is event_id DESC,
    * "now" is `Anchor` midnight. */
  val monotonicTsRepair: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
      .withColumn("tod", date_format(col("ts"), "HH:mm:ss"))
    monotonicRepair(ev, "user_id", "event_id", "tod", Anchor, "00:00:00")
      .select(col("user_id"), col("event_id"), col("repaired_ts"))
      .orderBy("user_id", "event_id")
  }
  val monotonicTsRepairSql: String =
    s"""SELECT user_id, event_id,
       |       CAST('$Anchor ' || tod AS TIMESTAMP)
       |         - to_days(CAST(days_back AS INTEGER)) AS repaired_ts
       |FROM (
       |  SELECT user_id, event_id, tod,
       |         sum(roll) OVER (PARTITION BY user_id ORDER BY event_id DESC
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS days_back
       |  FROM (
       |    SELECT user_id, event_id, tod,
       |           CASE WHEN tod > lag(tod, 1, '00:00:00')
       |                           OVER (PARTITION BY user_id ORDER BY event_id DESC)
       |                THEN 1 ELSE 0 END AS roll
       |    FROM (SELECT user_id, event_id,
       |                 strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') AS tod FROM events)))
       |ORDER BY user_id, event_id""".stripMargin

  /** W4 `year_rollover_repair` — yearless timestamps are parsed with the
    * current year and pushed back one year when they land in the future
    * (scrapers/mailbox.py:45-52; chat.py:100-105 has the same *intent* but
    * a real bug — the corrected `ts.replace` result is discarded; we
    * implement the intended semantics, as the mailbox variant does).
    */
  val yearRolloverRepair: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val now = to_timestamp(lit(s"$Anchor 00:00:00"))
    ev.select(col("event_id"), col("ts"),
        when(col("ts") > now, col("ts") - expr("INTERVAL 1 YEAR"))
          .otherwise(col("ts")).as("repaired_ts"))
      .orderBy("event_id")
  }
  val yearRolloverRepairSql: String =
    s"""SELECT event_id, ts,
       |       CASE WHEN ts > TIMESTAMP '$Anchor 00:00:00'
       |            THEN ts - INTERVAL 1 YEAR ELSE ts END AS repaired_ts
       |FROM $EV ORDER BY event_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "monotonic_ts_repair" -> Query(monotonicTsRepair, monotonicTsRepairSql),
    "year_rollover_repair" -> Query(yearRolloverRepair, yearRolloverRepairSql),
  )
}
