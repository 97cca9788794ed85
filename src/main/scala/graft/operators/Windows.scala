package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time windowed aggregations — absent from the reference (its
  * state is per-key last-value only, SURVEY §2.8 "Windows: none") but
  * required for the 100 TB analytics goal; declared in SURVEY §7/§2.10.
  *
  * Batch forms are oracle-checked; the streaming twin (same `window()`
  * expression over `readStream` + watermark) is WindowsStreamSpec.
  * Window aggregation is a plain hash aggregate on (window, keys) —
  * map-side combinable, one shuffle; sliding windows multiply input by
  * (length/slide), visible and bounded in the plan, never a state
  * explosion.
  */
object Windows {
  /** Tumbling 6-hour windows per event type: count + exact value sum. */
  val tumblingWindowAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")
  val tumblingWindowAggSql: String =
    s"""SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS w_start, event_type,
       |       count(*) AS n,
       |       CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
       |FROM $EV GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Sliding windows: 6-hour length, 3-hour slide — each event lands in
    * exactly 2 windows. Oracle expands the membership explicitly. */
  val slidingWindowAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .orderBy("w_start")
  val slidingWindowAggSql: String =
    s"""SELECT w_start, count(*) AS n FROM (
       |  SELECT CAST(to_timestamp(floor(epoch(ts) / 10800) * 10800) AS TIMESTAMP) AS w_start FROM $EV
       |  UNION ALL
       |  SELECT CAST(to_timestamp((floor(epoch(ts) / 10800) - 1) * 10800) AS TIMESTAMP) AS w_start FROM $EV)
       |GROUP BY w_start ORDER BY w_start""".stripMargin

  /** Session windows per user, 1-hour inactivity gap: Spark's
    * `session_window` vs the classic gaps-and-islands SQL (lag → new-
    * session flag → running island id) in the oracle — same result,
    * which is itself worth proving, since session_window is the one
    * windowing primitive with merge semantics. */
  val sessionWindowAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")
  val sessionWindowAggSql: String =
    s"""SELECT user_id, min(ts) AS session_start, count(*) AS n,
       |       CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
       |FROM (
       |  SELECT user_id, ts, value,
       |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM (
       |    SELECT user_id, ts, value, event_id,
       |           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                     <= INTERVAL 1 HOUR THEN 0 ELSE 1 END AS new_session
       |    FROM $EV))
       |GROUP BY user_id, island ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------------
  // X104 funnel_report — ordered-sequence conversion funnel
  // ---------------------------------------------------------------------

  /** The funnel's ordered steps (earliest qualifying event per step,
    * each strictly AFTER the user's previous step). */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** The conversion funnel — the ordered-sequence event-analytics op
    * (view → click → purchase): a user completes step k only with an
    * event of step k's type STRICTLY AFTER their step-(k−1) completion
    * time (earliest-qualifying semantics, the standard product-funnel
    * definition); the report is per-step user counts plus per-mille
    * conversion from the previous step. Step-1 conversion is defined
    * as 1000 (its own baseline); a zero previous step converts at 0
    * rather than dividing by zero — both spelled identically in both
    * engines.
    *
    * Scale shape: each step is ONE map-combinable user-keyed min-ts
    * aggregate over a type-filtered scan, chained through a user-keyed
    * equi-join onto the previous step's (shrinking) completion
    * relation — AQE-owned sides, no window over raw events, no
    * per-user event sort. The lag runs over the 3-row report itself
    * (bounded by the step list's length — GlobalWindowSweepSpec
    * allowlist). */
  val funnelReport: Q = (spark, dir) => {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val steps = FunnelSteps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (tpe, i)) =>
        val base = e.filter(col("event_type") === tpe)
        val gated = prev match {
          case None => base
          case Some(p) =>
            base.join(p.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .filter(col("ts") > col("t_prev"))
        }
        Some(gated.groupBy("user_id").agg(min("ts").as("t")))
    }.flatten
    val rows = steps.zipWithIndex.map { case (s, i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(FunnelSteps(i)).as("step_name"),
          col("n_users"))
    }.reduce(_ unionByName _)
    funnelReportOfCounts(rows)
  }

  /** The funnel's ordered step names, for the streaming twin
    * ([[graft.streaming.FunnelStream]]) to share. */
  private[graft] def funnelStepNames: Seq[String] = FunnelSteps

  /** The report tail over a (step, step_name, n_users) relation —
    * shared by the batch query and the streaming twin's rollup so the
    * conversion arithmetic has exactly one spelling. */
  private[graft] def funnelReportOfCounts(rows: DataFrame): DataFrame =
    rows
      .withColumn("prev_users", coalesce(
        lag(col("n_users"), 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("step")),
        col("n_users")))
      .withColumn("conv_permille", expr(
        "CASE WHEN prev_users = 0 THEN 0L ELSE (n_users * 1000) div prev_users END"))
      .select("step", "step_name", "n_users", "conv_permille")
      .orderBy("step")
  val funnelReportSql: String = {
    val stepCtes = FunnelSteps.zipWithIndex.map { case (tpe, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = '$tpe' GROUP BY 1)"
      else
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(ts) AS t FROM e JOIN s$i USING (user_id)
           |  WHERE event_type = '$tpe' AND ts > s$i.t GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val unionRows = FunnelSteps.zipWithIndex.map { case (tpe, i) =>
      s"SELECT ${i + 1} AS step, '$tpe' AS step_name, (SELECT count(*) FROM s${i + 1}) AS n_users"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT user_id, event_type, ts FROM $EV ev),
       |$stepCtes,
       |f AS (
       |  $unionRows),
       |g AS (
       |  SELECT step, step_name, n_users,
       |         coalesce(lag(n_users) OVER (ORDER BY step), n_users) AS prev_users
       |  FROM f)
       |SELECT CAST(step AS BIGINT) AS step, step_name,
       |       CAST(n_users AS BIGINT) AS n_users,
       |       CAST(CASE WHEN prev_users = 0 THEN 0
       |                 ELSE (n_users * 1000) // prev_users END AS BIGINT)
       |         AS conv_permille
       |FROM g ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X105 retention_cohorts — weekly cohort retention triangle
  // ---------------------------------------------------------------------

  /** The cohort-retention triangle — the other canonical event-analytics
    * report: users cohorted by the ISO week of their FIRST event; for
    * each (cohort, week-offset) cell, how many of the cohort's users
    * were active that week, in exact per-mille of the cohort's size.
    * Offset 0 is 1000 by construction (a user's first event is in their
    * cohort week — the spec pins it).
    *
    * Scale shape: both the cohort assignment and the activity relation
    * are ONE map-combinable user-keyed aggregate each (min-week;
    * distinct (user, week) — the distinct runs BEFORE the join, so the
    * join input is bounded by users × active-weeks, not raw events);
    * the cohort join is user-keyed equi (AQE-owned), the cell rollup is
    * map-combinable, and the size attach joins at cohort cardinality
    * (≤ weeks in the stream — time-bounded, corpus-independent). Week
    * truncation is ISO-Monday in BOTH engines. */
  val retentionCohorts: Q = (spark, dir) => {
    val e = Tables.events(spark, dir).select(col("user_id"),
      date_trunc("week", col("ts")).as("week"))
    val first = e.groupBy("user_id").agg(min("week").as("cohort_week"))
    val act = e.distinct().join(first, "user_id")
      .select(col("cohort_week"),
        expr("datediff(week, cohort_week) div 7").as("week_offset"))
      .groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("n_active"))
    val sizes = first.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    act.join(sizes, "cohort_week")
      .withColumn("retention_permille", expr("(n_active * 1000) div cohort_users"))
      .select("cohort_week", "week_offset", "n_active", "cohort_users",
        "retention_permille")
      .orderBy("cohort_week", "week_offset")
  }
  val retentionCohortsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM $EV ev),
       |first AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
       |act AS (
       |  SELECT cohort_week,
       |         date_diff('day', cohort_week, week) // 7 AS week_offset,
       |         CAST(count(*) AS BIGINT) AS n_active
       |  FROM (SELECT DISTINCT user_id, week FROM e) w
       |  JOIN first USING (user_id)
       |  GROUP BY 1, 2),
       |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
       |          FROM first GROUP BY 1)
       |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset, n_active,
       |       cohort_users,
       |       CAST((n_active * 1000) // cohort_users AS BIGINT)
       |         AS retention_permille
       |FROM act JOIN sizes USING (cohort_week)
       |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------------
  // X107 stickiness_report — DAU / WAU / stickiness per day
  // ---------------------------------------------------------------------

  /** The engagement dashboard's headline numbers, exactly: per calendar
    * day, distinct active users (DAU), distinct users active in the
    * trailing 7 days (WAU ending that day), and stickiness =
    * DAU·1000 div WAU — the DAU/WAU ratio product teams track. Exact
    * distinct counts, no sketch: the input to both counts is the
    * (user, day) DISTINCT relation, not raw events.
    *
    * Scale shape: raw events collapse FIRST into the distinct
    * (user, day) relation (ONE map-combinable distinct — bounded by
    * users × active-days, the same pre-join collapse as
    * `retention_cohorts`); the trailing window is a range join of that
    * relation against the TIME-BOUNDED day lattice (broadcast — days
    * grow with the calendar, never the corpus), fanning each user-day
    * into ≤ 7 lattice rows; both counts are then per-day aggregates
    * (the WAU count-distinct is Spark's standard two-phase expand).
    * No window function anywhere. */
  val stickinessReport: Q = (spark, dir) => {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val days = ud.select(col("day").as("d")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud.join(broadcast(days),
        col("day") <= col("d") && col("day") >= col("d") - expr("INTERVAL 6 DAYS"))
      .groupBy("d").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000) div wau").as("stickiness_permille"))
      .orderBy("day")
  }
  val stickinessReportSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
       |  FROM $EV ev),
       |days AS (SELECT DISTINCT day AS d FROM ud),
       |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
       |wau AS (
       |  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
       |  FROM ud JOIN days
       |    ON ud.day <= days.d AND ud.day >= days.d - INTERVAL 6 DAY
       |  GROUP BY 1)
       |SELECT day, dau, wau,
       |       CAST((dau * 1000) // wau AS BIGINT) AS stickiness_permille
       |FROM dau JOIN wau ON day = d
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // X110 rfm_segments — recency / frequency / monetary segmentation
  // ---------------------------------------------------------------------

  /** Fixed RFM segmentation thresholds (days / purchases / cents) —
    * FIXED-threshold buckets deliberately, not quantile buckets: a
    * quantile cut needs a global sort or two-phase histogram per
    * dimension, while thresholds are row-local and keep the whole op
    * one aggregate; a real deployment tunes the constants. */
  private val RecencyCuts = (2L, 7L)     // ≤ days → bucket 2 / 1, else 0
  private val FrequencyCuts = (15L, 8L)  // ≥ purchases → 2 / 1
  private val MonetaryCuts = (30000L, 15000L) // ≥ cents → 2 / 1

  /** RFM customer segmentation over the purchase stream — the classic
    * lifecycle-marketing rollup: per user, days since last purchase
    * (recency, against the stream's max timestamp — deterministic, no
    * wall clock), purchase count (frequency), and exact cents spent
    * (monetary — `floor(value·100)`, the trunc-vs-round cast trap
    * spelled identically in both engines), each bucketed 0/1/2 by the
    * fixed cuts and packed into the 3-digit RFM segment code.
    *
    * Scale shape: ONE map-combinable user-keyed aggregate over the
    * purchase-filtered scan (max-ts, count, sum — all combinable); the
    * stream-max timestamp attaches as the allowlisted 1-row scalar;
    * bucketing and the segment code are row-local. No window, no
    * corpus-sized join. */
  val rfmSegments: Q = (spark, dir) => {
    val p = Tables.events(spark, dir).filter(col("event_type") === "purchase")
    val now = p.agg(max(col("ts")).as("now_ts"))
    p.groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("monetary_cents"))
      .crossJoin(now)
      .withColumn("recency_days",
        expr("datediff(CAST(now_ts AS DATE), CAST(last_ts AS DATE))").cast("long"))
      .withColumn("r", expr(
        s"CASE WHEN recency_days <= ${RecencyCuts._1} THEN 2L " +
          s"WHEN recency_days <= ${RecencyCuts._2} THEN 1L ELSE 0L END"))
      .withColumn("f", expr(
        s"CASE WHEN frequency >= ${FrequencyCuts._1} THEN 2L " +
          s"WHEN frequency >= ${FrequencyCuts._2} THEN 1L ELSE 0L END"))
      .withColumn("m", expr(
        s"CASE WHEN monetary_cents >= ${MonetaryCuts._1} THEN 2L " +
          s"WHEN monetary_cents >= ${MonetaryCuts._2} THEN 1L ELSE 0L END"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      .orderBy("user_id")
  }
  val rfmSegmentsSql: String =
    s"""WITH p AS (SELECT * FROM $EV ev WHERE event_type = 'purchase'),
       |agg AS (
       |  SELECT user_id, max(ts) AS last_ts,
       |         CAST(count(*) AS BIGINT) AS frequency,
       |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
       |           AS monetary_cents
       |  FROM p GROUP BY 1),
       |now_ts AS (SELECT max(ts) AS now_ts FROM p)
       |SELECT user_id,
       |       CAST(date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
       |            AS BIGINT) AS recency_days,
       |       frequency, monetary_cents,
       |       CAST((CASE WHEN date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
       |                  <= ${RecencyCuts._1} THEN 2
       |             WHEN date_diff('day', CAST(last_ts AS DATE), CAST(now_ts AS DATE))
       |                  <= ${RecencyCuts._2} THEN 1 ELSE 0 END) * 100
       |       + (CASE WHEN frequency >= ${FrequencyCuts._1} THEN 2
       |               WHEN frequency >= ${FrequencyCuts._2} THEN 1 ELSE 0 END) * 10
       |       + (CASE WHEN monetary_cents >= ${MonetaryCuts._1} THEN 2
       |               WHEN monetary_cents >= ${MonetaryCuts._2} THEN 1 ELSE 0 END)
       |         AS BIGINT) AS segment
       |FROM agg, now_ts
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // X112 user_path_ngrams — sequential path mining over event streams
  // ---------------------------------------------------------------------

  /** Path analysis — the sequential-pattern rollup product analytics
    * runs after the funnel: every CONSECUTIVE 3-step path a user walks
    * (event types ordered by time within the user), counted corpus-
    * wide with its exact per-mille share — the report that surfaces
    * the journeys nobody designed (error → error → error loops,
    * view → purchase shortcuts that skip the click). The path space is
    * bounded by |event types|³, so the report is ≤ 125 rows at any
    * corpus.
    *
    * Scale shape: ONE user-partitioned window (partition = one user's
    * events, bounded by per-user activity — never corpus-sized; the
    * session_window/asof family's audited shape) builds the two leads,
    * then the corpus collapses in a map-combinable path count; the
    * share denominator is an UNPARTITIONED window, but over the
    * ≤ 125-row path histogram — bounded by construction, carried on
    * the counted `GlobalWindowSweepSpec` allowlist with exactly that
    * argument. Total order
    * (ts, event_id) makes the triples deterministic under ties. */
  val userPathNgrams: Q = (spark, dir) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    paths
      .withColumn("share_permille", expr(
        "(n * 1000) div (sum(n) OVER ())"))
      .orderBy(col("n").desc, col("path"))
  }
  val userPathNgramsSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |         lead(event_type, 1) OVER (PARTITION BY user_id
       |                                   ORDER BY ts, event_id) AS t1,
       |         lead(event_type, 2) OVER (PARTITION BY user_id
       |                                   ORDER BY ts, event_id) AS t2
       |  FROM $EV ev),
       |paths AS (
       |  SELECT event_type || '>' || t1 || '>' || t2 AS path,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
       |  GROUP BY 1)
       |SELECT path, n,
       |       CAST((n * 1000) // (sum(n) OVER ()) AS BIGINT) AS share_permille
       |FROM paths
       |ORDER BY n DESC, path""".stripMargin

  // ---------------------------------------------------------------------
  // X120 anomaly_mad — MAD-based daily-volume anomaly detection
  // ---------------------------------------------------------------------

  /** Robust per-type daily-volume anomaly flags: for every (event_type,
    * day) count, the type's DISCRETE median daily count, the median
    * absolute deviation (MAD — the robust spread estimate outliers
    * can't poison, unlike stddev), and the 3-MAD verdict. The
    * monitoring pass an ingest pipeline runs over its own event stream:
    * a day whose volume sits > 3 MADs from the type's median is a
    * burst or an outage, not noise.
    *
    * Exactness: counts are ints; the median is the explicit LOWER
    * median — `sort(ns)[(cnt+1) div 2]`, 1-based — spelled as element
    * picks in BOTH engines (DuckDB's `quantile_disc`/Spark's
    * interpolating `percentile` each have their own convention; an
    * explicit index has neither). Verdict `|n−med| > 3·mad` is integer
    * arithmetic; mad = 0 (a perfectly flat type) flags ANY deviation,
    * which is the correct reading of a constant-rate stream.
    *
    * Scale shape: the corpus collapses in ONE map-combinable
    * (type, day) count; everything downstream runs on that bounded
    * histogram (rows = types × days — time-range-bounded metadata, the
    * compaction_plan regime): two collect_list medians per type over
    * day-bounded lists, one broadcast join back. No corpus-sized
    * window, no second scan.
    *
    * `madOfDaily` is the extraction over any (event_type, day, n)
    * relation — shared with the streaming twin
    * ([[graft.streaming.AnomalyStream]] maintains the identical daily
    * histogram as bounded state and reads flags through THIS code). */
  private[graft] def madOfDaily(daily: DataFrame): DataFrame = {
    val med = daily.groupBy("event_type")
      .agg(sort_array(collect_list(col("n"))).as("ns"))
      .select(col("event_type"),
        element_at(col("ns"), ((size(col("ns")) + 1) / 2).cast("int")).as("med"))
    val withMed = daily.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("n") - col("med")))
    val mad = withMed.groupBy("event_type")
      .agg(sort_array(collect_list(col("ad"))).as("ads"))
      .select(col("event_type"),
        element_at(col("ads"), ((size(col("ads")) + 1) / 2).cast("int")).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        (abs(col("n") - col("med")) > lit(3L) * col("mad")).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** The (event_type, day, n) daily-count shape both paths aggregate. */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  val anomalyMad: Q = (spark, dir) =>
    madOfDaily(dailyCounts(Tables.events(spark, dir)))

  val anomalyMadSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |med AS (
       |  SELECT event_type, ns[CAST((len(ns) + 1) // 2 AS INT)] AS med
       |  FROM (SELECT event_type, list_sort(list(n)) AS ns FROM daily GROUP BY 1)),
       |wm AS (
       |  SELECT d.*, m.med, abs(d.n - m.med) AS ad
       |  FROM daily d JOIN med m USING (event_type)),
       |mad AS (
       |  SELECT event_type, ads[CAST((len(ads) + 1) // 2 AS INT)] AS mad
       |  FROM (SELECT event_type, list_sort(list(ad)) AS ads FROM wm GROUP BY 1))
       |SELECT wm.event_type, wm.day, wm.n, wm.med, mad.mad,
       |       abs(wm.n - wm.med) > 3 * mad.mad AS is_anomaly
       |FROM wm JOIN mad USING (event_type)
       |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------------
  // X121 scd2_history — type-2 slowly-changing-dimension build
  // ---------------------------------------------------------------------

  /** SCD type-2 dimension build from a change stream — the warehouse
    * primitive behind every `dim_*_history` table: per user, collapse
    * consecutive same-type events into versions and interval-ize them
    * as [valid_from, valid_to) with an is_current flag and a dense
    * version number. The reference's upsert sinks keep ONLY the latest
    * row (type-1); this is the audited-history counterpart a 100 TB
    * warehouse actually maintains.
    *
    * Scale shape: two user-partitioned windows (lag to find change
    * points, lead over the SURVIVING change rows to close intervals) —
    * partitions bounded by per-user activity, the session_window
    * family's audited shape; no join, no corpus-sized partition. Total
    * order pinned by (user_id, version). */
  val scd2History: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.{Window => W}
    val byUser = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val byUser2 = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser2))
      .withColumn("version", row_number().over(byUser2).cast("long"))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("version"), col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }
  val scd2HistorySql: String =
    s"""WITH ordered AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |changes AS (
       |  SELECT * FROM ordered WHERE prev IS NULL OR prev <> event_type)
       |SELECT user_id, event_type, ts AS valid_from,
       |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
       |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       |FROM changes
       |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------------
  // X126 markov_transitions — first-order event-type transition matrix
  // ---------------------------------------------------------------------

  /** First-order Markov transition matrix over user journeys: for every
    * (prev, next) consecutive event-type pair (ordered within user),
    * the count and the exact per-mille conditional probability
    * P(next | prev). [[userPathNgrams]] surfaces frequent 3-step PATHS;
    * this is the normalized MODEL those paths sample from — the
    * matrix product analytics fits for next-action prediction and
    * anomaly scoring.
    *
    * Scale shape: one user-partitioned lead window (activity-bounded
    * partitions), then the corpus collapses in a map-combinable
    * (prev, next) count; the conditional share is a prev-partitioned
    * window over the ≤ |types|² matrix — bounded by construction. */
  val markovTransitions: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.{Window => W}
    val byUser = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      .withColumn("p_permille",
        expr("n * 1000 div sum(n) OVER (PARTITION BY prev_type)").cast("long"))
      .select(col("prev_type"), col("next_type"), col("n"), col("p_permille"))
      .orderBy("prev_type", "next_type")
  }
  val markovTransitionsSql: String =
    s"""WITH seq AS (
       |  SELECT event_type AS prev_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY ts, event_id) AS next_type
       |  FROM $EV ev),
       |m AS (
       |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
       |SELECT prev_type, next_type, n,
       |       CAST(n * 1000 // (sum(n) OVER (PARTITION BY prev_type)) AS BIGINT) AS p_permille
       |FROM m
       |ORDER BY prev_type, next_type""".stripMargin

  // ---------------------------------------------------------------------
  // X138 scd2_point_in_time — as-of dimension state over the history
  // ---------------------------------------------------------------------

  /** Point-in-time reads over the X121 SCD2 history — the query a
    * versioned dimension EXISTS for: at every day boundary the stream
    * spans, how many users sat in each state (their open version's
    * type at that instant, interval containment
    * valid_from ≤ t < valid_to). The daily census of dimension state —
    * time-travel semantics expressed over interval rows, no snapshot
    * copies.
    *
    * Scale shape: the probe lattice is the DISTINCT DAY relation —
    * calendar-bounded (the stickiness_report day-lattice argument) —
    * broadcast against the corpus-scale version relation with the
    * containment predicate row-local; each version row matches at most
    * its interval's days. The census collapses map-combinably. */
  val scd2PointInTime: Q = (spark, dir) => {
    val hist = scd2History(spark, dir)
    val probes = Tables.events(spark, dir)
      .select(date_trunc("DAY", col("ts")).as("probe_day")).distinct()
    hist.crossJoin(broadcast(probes))
      .filter(col("probe_day") >= col("valid_from") &&
        (col("valid_to").isNull || col("probe_day") < col("valid_to")))
      .groupBy("probe_day", "event_type")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("probe_day", "event_type")
  }
  val scd2PointInTimeSql: String =
    s"""WITH ordered AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |changes AS (
       |  SELECT * FROM ordered WHERE prev IS NULL OR prev <> event_type),
       |hist AS (
       |  SELECT user_id, event_type, ts AS valid_from,
       |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
       |  FROM changes),
       |probes AS (
       |  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS probe_day
       |  FROM events)
       |SELECT probe_day, event_type, CAST(count(*) AS BIGINT) AS n_active
       |FROM hist JOIN probes
       |  ON probe_day >= valid_from AND (valid_to IS NULL OR probe_day < valid_to)
       |GROUP BY 1, 2
       |ORDER BY probe_day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // X136 hourly_seasonality — hour-of-day load profile per event type
  // ---------------------------------------------------------------------

  /** Hour-of-day seasonality profile: per (event_type, UTC hour),
    * count, exact per-mille share within the type, and the peak-hour
    * flag (ties all flagged — deterministic) — the capacity-planning /
    * anomaly-baseline fingerprint; [[anomalyMad]] flags days against
    * the DAILY baseline, this is the intra-day shape those days follow.
    *
    * Scale shape: ONE map-combinable (type, hour) count; share and
    * peak windows run over the ≤ types × 24 histogram — bounded by the
    * clock, not the corpus. */
  val hourlySeasonality: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_permille",
        expr("n * 1000 div sum(n) OVER (PARTITION BY event_type)").cast("long"))
      .withColumn("is_peak", expr("n = max(n) OVER (PARTITION BY event_type)"))
      .orderBy("event_type", "hour")
  val hourlySeasonalitySql: String =
    s"""WITH h AS (
       |  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, hour, n,
       |       CAST(n * 1000 // (sum(n) OVER (PARTITION BY event_type)) AS BIGINT)
       |         AS share_permille,
       |       n = max(n) OVER (PARTITION BY event_type) AS is_peak
       |FROM h
       |ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------------
  // X140 sequence_match_report — regex CEP over per-user event journeys
  // ---------------------------------------------------------------------

  /** The fixed pattern lattice — each pattern a product question over
    * the journey alphabet (event types by first letter: c=click,
    * e=error, p=purchase, s=signup, v=view; all initials distinct in
    * the harness inventory, spec-pinned). Patterns use the regex
    * subset (literals, `.`, `*`, `{n,}`) whose semantics Java regex and
    * DuckDB's RE2 share exactly. */
  private val SeqPatterns = Seq(
    "v.*p", // viewed then eventually purchased — the conversion question
    "vp", // purchase IMMEDIATELY after a view (no intervening events)
    "e{3,}", // 3+ consecutive errors — the rage-quit / outage signature
    "p.*e", // an error after a purchase — the post-conversion-failure audit
    "s.*p") // signup later converts

  /** Regex CEP (complex-event-processing lite) over user journeys —
    * the sequence-pattern layer above [[userPathNgrams]]' fixed 3-grams
    * and [[markovTransitions]]' single steps: each user's full event
    * history becomes a compact symbol string (one char per event, in
    * exact (ts, event_id) order), and the report counts, per pattern,
    * the users whose journey matches (unanchored regex search, the
    * shared Java/RE2 semantics) with exact per-mille reach. The
    * pattern set every funnel tool compiles to under the hood,
    * expressed directly.
    *
    * Scale shape: ONE map-combinable user-keyed aggregate builds the
    * journey strings (collect_list of (ts, id, sym) structs +
    * row-local sort — state bounded by per-user ACTIVITY, the
    * session-window family's audited bound, never corpus-shaped); the
    * pattern lattice is a fixed literal array crossed onto the
    * user-sized relation (≤ |patterns| fanout, counted BNLJ
    * allowlist); the report collapses in one |patterns|-group
    * aggregate. Journey strings at 100 TB: a user with 10⁶ events
    * carries a 1 MB string through ONE task — the same per-user
    * activity bound session windows already assume; pathological
    * actors get capped upstream by the ingest dedup. */
  val sequenceMatchReport: Q = (spark, dir) => {
    val seqs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("sym"))
      .groupBy("user_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(ts, event_id, sym))), x -> x.sym)"),
        "").as("s"))
    val lattice = spark.range(1)
      .select(explode(lit(SeqPatterns.toArray)).as("pattern"))
    seqs.crossJoin(broadcast(lattice))
      .groupBy("pattern")
      .agg(count(when(expr("s rlike pattern"), 1)).as("n_users"),
        count(lit(1)).as("n_total"))
      .select(col("pattern"), col("n_users"),
        expr("(n_users * 1000) div n_total").as("match_permille"))
      .orderBy("pattern")
  }
  val sequenceMatchReportSql: String = {
    val lattice = SeqPatterns.map(p => s"('$p')").mkString(", ")
    s"""WITH seq AS (
       |  SELECT user_id,
       |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
       |  FROM $EV ev GROUP BY 1),
       |pats(pattern) AS (VALUES $lattice)
       |SELECT pattern,
       |       CAST(count(*) FILTER (regexp_matches(s, pattern)) AS BIGINT) AS n_users,
       |       CAST(count(*) FILTER (regexp_matches(s, pattern)) * 1000 // count(*)
       |            AS BIGINT) AS match_permille
       |FROM seq CROSS JOIN pats
       |GROUP BY 1 ORDER BY pattern""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X141 window_funnel — TIME-BOUNDED conversion funnel (24 h deadline)
  // ---------------------------------------------------------------------

  /** The completion deadline: a chain converts only if its last step
    * lands within this many MICROSECONDS of its first. 24 h separates
    * the corpus cleanly (sf0.01: 150 viewers → 147 clickers → 86
    * purchasers, vs 150/150/150 at a 7-day window — the unbounded X104
    * regime). */
  private[graft] val FunnelWindowUs: Long = 86400L * 1000000L

  /** The time-bounded funnel (the ClickHouse `windowFunnel` shape):
    * a user reaches level k if events e₁ < e₂ < … < e_k of the step
    * types exist IN (ts, event_id) ORDER with t_k − t₁ ≤ 24 h —
    * X104's question with a deadline, which is what growth teams
    * actually ask ("converted within a day", not "ever"). Exact
    * single-pass DP per user over the time-ordered journey: A[j] =
    * the MAXIMUM chain-anchor t₁ over valid level-j chains seen so
    * far; a step-j event at t extends iff t − A[j−1] ≤ W, and anchors
    * only ever improve (the later anchor admits a superset of future
    * completions, so the greedy is exhaustive — the brute-force
    * 3-way-join oracle is the independent proof). Report: per level,
    * users reaching ≥ level + per-mille conversion from the previous
    * level through the SHARED [[funnelReportOfCounts]] tail.
    *
    * Scale shape: ONE map-combinable user-keyed aggregate collects the
    * time-ordered journey (per-user ACTIVITY bound — the
    * sequence_match_report argument), the DP is a row-local fold, and
    * the corpus collapses in a single global 3-counter aggregate (one
    * row; the explode below it is the X87 one-row-lattice pattern, no
    * BNLJ anywhere). The oracle deliberately spells the DEFINITION
    * instead (3-way self-join with the deadline predicate) — an
    * independent implementation, quadratic-per-user and fine at oracle
    * scale, which is exactly why the engine side is the DP. */

  /** "Level not reached" sentinel for the funnel DP's anchor slots.
    * `Long.MinValue`, NOT −1: anchors are event epoch-micros, and a
    * pre-1970 event carries a NEGATIVE anchor — with −1 any t ≤ −1
    * could never anchor a chain while the oracle's definitional join
    * has no such bound (r19 ADVICE). MinValue is unreachable by data
    * (year ≈ −290308), so `anchor > sentinel` is exactly "reached". */
  private[graft] val FunnelNotReached: Long = Long.MinValue
  private val NR = s"bigint('${FunnelNotReached}')"

  /** The per-user DP as one Spark SQL `aggregate(...)` over the
    * time-ordered journey array `evs: array<struct<t, id, sym>>` —
    * shared with WindowFunnelSpec so the law spec exercises the exact
    * registered fold, sentinel arithmetic included. */
  private[graft] def funnelLevelSql(windowUs: Long = FunnelWindowUs): String =
    s"""aggregate(evs,
       |  named_struct('a1', $NR, 'a2', $NR, 'a3', $NR),
       |  (acc, e) -> named_struct(
       |    'a1', CASE WHEN e.sym = 'v' AND e.t > acc.a1 THEN e.t ELSE acc.a1 END,
       |    'a2', CASE WHEN e.sym = 'c' AND acc.a1 > $NR
       |               AND e.t - acc.a1 <= $windowUs
       |               AND acc.a1 > acc.a2 THEN acc.a1 ELSE acc.a2 END,
       |    'a3', CASE WHEN e.sym = 'p' AND acc.a2 > $NR
       |               AND e.t - acc.a2 <= $windowUs
       |               AND acc.a2 > acc.a3 THEN acc.a2 ELSE acc.a3 END),
       |  acc -> CASE WHEN acc.a3 > $NR THEN 3L WHEN acc.a2 > $NR THEN 2L
       |              WHEN acc.a1 > $NR THEN 1L ELSE 0L END)""".stripMargin

  val windowFunnel: Q = (spark, dir) => {
    val journeys = Tables.events(spark, dir)
      .filter(col("event_type").isin(FunnelSteps: _*))
      .select(col("user_id"),
        struct(expr("unix_micros(ts)").as("t"), col("event_id").as("id"),
          substring(col("event_type"), 1, 1).as("sym")).as("e"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(col("e"))).as("evs"))
    val levels = journeys.select(expr(funnelLevelSql()).as("level"))
    val counts = levels.agg(
      count(when(col("level") >= 1, 1)).as("n1"),
      count(when(col("level") >= 2, 1)).as("n2"),
      count(when(col("level") >= 3, 1)).as("n3"))
    val rows = counts.select(explode(array(
      struct(lit(1L).as("step"), lit(FunnelSteps(0)).as("step_name"), col("n1").as("n_users")),
      struct(lit(2L).as("step"), lit(FunnelSteps(1)).as("step_name"), col("n2").as("n_users")),
      struct(lit(3L).as("step"), lit(FunnelSteps(2)).as("step_name"), col("n3").as("n_users"))))
      .as("r"))
      .select(col("r.step").as("step"), col("r.step_name").as("step_name"),
        col("r.n_users").as("n_users"))
    funnelReportOfCounts(rows)
  }
  val windowFunnelSql: String = {
    val wUs = FunnelWindowUs
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
       |           FROM events),
       |l3 AS (
       |  SELECT DISTINCT v.user_id FROM e v
       |  JOIN e c ON c.user_id = v.user_id
       |    AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
       |  JOIN e p ON p.user_id = c.user_id
       |    AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
       |  WHERE v.event_type = '${FunnelSteps(0)}' AND c.event_type = '${FunnelSteps(1)}'
       |    AND p.event_type = '${FunnelSteps(2)}'
       |    AND epoch_us(p.ts) - epoch_us(v.ts) <= $wUs),
       |l2 AS (
       |  SELECT DISTINCT v.user_id FROM e v
       |  JOIN e c ON c.user_id = v.user_id
       |    AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
       |  WHERE v.event_type = '${FunnelSteps(0)}' AND c.event_type = '${FunnelSteps(1)}'
       |    AND epoch_us(c.ts) - epoch_us(v.ts) <= $wUs),
       |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = '${FunnelSteps(0)}'),
       |f AS (
       |  SELECT 1 AS step, '${FunnelSteps(0)}' AS step_name,
       |         (SELECT count(*) FROM l1) AS n_users
       |  UNION ALL SELECT 2, '${FunnelSteps(1)}', (SELECT count(*) FROM l2)
       |  UNION ALL SELECT 3, '${FunnelSteps(2)}', (SELECT count(*) FROM l3)),
       |g AS (
       |  SELECT step, step_name, n_users,
       |         coalesce(lag(n_users) OVER (ORDER BY step), n_users) AS prev_users
       |  FROM f)
       |SELECT CAST(step AS BIGINT) AS step, step_name,
       |       CAST(n_users AS BIGINT) AS n_users,
       |       CAST(CASE WHEN prev_users = 0 THEN 0
       |                 ELSE (n_users * 1000) // prev_users END AS BIGINT)
       |         AS conv_permille
       |FROM g ORDER BY step""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "window_funnel" -> Query(windowFunnel, windowFunnelSql),
    "sequence_match_report" -> Query(sequenceMatchReport, sequenceMatchReportSql),
    "tumbling_window_agg" -> Query(tumblingWindowAgg, tumblingWindowAggSql),
    "sliding_window_agg" -> Query(slidingWindowAgg, slidingWindowAggSql),
    "session_window_agg" -> Query(sessionWindowAgg, sessionWindowAggSql),
    "funnel_report" -> Query(funnelReport, funnelReportSql),
    "retention_cohorts" -> Query(retentionCohorts, retentionCohortsSql),
    "stickiness_report" -> Query(stickinessReport, stickinessReportSql),
    "rfm_segments" -> Query(rfmSegments, rfmSegmentsSql),
    "user_path_ngrams" -> Query(userPathNgrams, userPathNgramsSql),
    "anomaly_mad" -> Query(anomalyMad, anomalyMadSql),
    "scd2_history" -> Query(scd2History, scd2HistorySql),
    "markov_transitions" -> Query(markovTransitions, markovTransitionsSql),
    "hourly_seasonality" -> Query(hourlySeasonality, hourlySeasonalitySql),
    "scd2_point_in_time" -> Query(scd2PointInTime, scd2PointInTimeSql),
  )
}
