package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal joins Spark has no native operator for — as-of join and
  * range join — re-expressed as compositions of existing operators
  * (the preference ladder's first rung: compose before custom plans),
  * in the shapes that scale.
  *
  * Both are checked against independent DuckDB formulations (a native
  * `ASOF JOIN`; an inequality join) rather than mirrored plans — a
  * stronger oracle than most queries get.
  */
object TemporalJoins {
  private val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)"

  // ---------------------------------------------------------------------
  // 1. asof_join — latest right row at-or-before each left row
  // ---------------------------------------------------------------------

  /** As-of join: each purchase matched to the user's latest view at or
    * before the purchase time (NULL when none) — the
    * state-at-event-time lookup every event pipeline needs.
    *
    * Spark shape: UNION + running `last(ignoreNulls)` window, not a
    * join: tag right rows 0 and left rows 1, sort within each user by
    * (ts, tag) — right-before-left on ties makes the match inclusive —
    * and carry the last seen right timestamp forward. ONE shuffle + one
    * in-partition sort, zero join fanout, no per-row subquery; at 100 TB
    * this is the merge-join formulation of as-of without materializing
    * any pair. (A naive formulation is a non-equi join — BNLJ — or a
    * per-left-row aggregation; both explode.)
    *
    * The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — an independent
    * implementation, not a mirrored plan. The right side is
    * pre-distinct on (user, ts) so the as-of pick is unique in both
    * engines.
    */
  /** The as-of core over arbitrary relations: left (event_id, user_id,
    * ts) rows each pick up the latest right (user_id, ts) at or before
    * them as `last_view_ts`. Exposed for the ScalaCheck brute-force
    * equivalence test. */
  private[graft] def asofOf(left: DataFrame, right: DataFrame): DataFrame = {
    val r = right.select(col("user_id"), col("ts")).distinct()
      .select(col("user_id"), col("ts"), lit(0).as("src"),
        lit(null).cast("long").as("event_id"), col("ts").as("r_ts"))
    val l = left.select(col("user_id"), col("ts"), lit(1).as("src"),
      col("event_id"), lit(null).cast("timestamp").as("r_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("src"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("last_view_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("last_view_ts"))
  }

  val asofJoin: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    asofOf(
      e.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      e.filter(col("event_type") === "view").select("user_id", "ts"))
      .orderBy("event_id")
  }
  val asofJoinSql: String =
    s"""WITH e AS (SELECT * FROM $EV),
       |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT DISTINCT user_id, ts FROM e WHERE event_type = 'view')
       |SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
       |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // 2. range_join_count — per-event count of rows in a trailing window
  // ---------------------------------------------------------------------

  private val RangeSecs = 21600L // 6-hour trailing window

  /** Range join: for each purchase, the number of the user's clicks in
    * the trailing [[RangeSecs]] window (zero-count purchases included).
    *
    * Spark shape: the bucketed range join. A raw interval condition is
    * a non-equi join — Spark would pick BroadcastNestedLoopJoin, a
    * disguised cartesian. Instead both sides bucket ts by the window
    * width; a click in [p.ts − W, p.ts] must land in the purchase's
    * bucket or the one before, so the purchase side probes exactly two
    * buckets (explode ×2) and the join is an EQUI-join on
    * (user, bucket) with the exact interval as a post-filter. Each
    * click matches at most one probe per purchase (buckets are
    * disjoint) — no double counting, no dedup pass. Fanout per key is
    * bounded by per-(user, window) event density — the operator's
    * natural skew measure — and AQE's skew-join splits any residual hot
    * (user, bucket). The plan is asserted cartesian-free in
    * PlanShapeSpec.
    */
  val rangeJoinCount: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val bucket = (t: org.apache.spark.sql.Column) =>
      expr(s"unix_micros(${t.toString}) div ${RangeSecs * 1000000L}")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), bucket(col("ts")).as("bk"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val probes = purchases
      .select(col("event_id"), col("user_id"), col("ts"),
        explode(array(bucket(col("ts")), bucket(col("ts")) - 1)).as("bk"))
    val counts = probes.join(clicks, Seq("user_id", "bk"))
      .filter(col("c_ts") >= col("ts") - expr(s"INTERVAL $RangeSecs SECONDS") &&
        col("c_ts") <= col("ts"))
      .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
    purchases.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy("event_id")
  }
  val rangeJoinCountSql: String =
    s"""WITH e AS (SELECT * FROM $EV),
       |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click')
       |SELECT p.event_id, p.user_id, count(c.ts) AS n_clicks
       |FROM p LEFT JOIN c
       |  ON c.user_id = p.user_id
       | AND c.ts >= p.ts - INTERVAL $RangeSecs SECOND AND c.ts <= p.ts
       |GROUP BY p.event_id, p.user_id
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // X132 asof_nearest_tolerance — nearest-match as-of with a tolerance
  // ---------------------------------------------------------------------

  /** Nearest-match tolerance (µs): 6 hours. */
  private val NearTolUs = 21600L * 1000000L

  /** As-of NEAREST with tolerance — pandas `merge_asof(direction=
    * 'nearest', tolerance=…)` semantics, the variant plain as-of can't
    * express: each purchase matches the CLOSEST view within ±6 h,
    * whichever side of the purchase it falls on (sensor/trade alignment
    * semantics: the nearest reading is the right one, not the last).
    * Distance ties break BACKWARD (the earlier view) — pinned in both
    * engines. Unmatched purchases surface with direction 'none'.
    *
    * Spark shape: the union+window as-of core run in BOTH directions
    * over one union relation — a running `last(ignoreNulls)` for the
    * latest view at-or-before, a `first(ignoreNulls)` over the mirrored
    * frame for the earliest view after — then the nearest/tolerance
    * pick is row-local arithmetic on epoch-µs longs. Two in-partition
    * sorts, zero join fanout (the forward frame may skip a view at the
    * EXACT purchase ts, but the backward frame captures it at distance
    * 0, which always wins — so the asymmetry is unobservable).
    *
    * The oracle is two native DuckDB ASOF joins (>= for backward, <=
    * for forward) — an independent implementation of both directions. */
  val asofNearestTolerance: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val left = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val right = e.filter(col("event_type") === "view")
      .select("user_id", "ts").distinct()
    val r = right.select(col("user_id"), col("ts"), lit(0).as("src"),
      lit(null).cast("long").as("event_id"), col("ts").as("r_ts"))
    val l = left.select(col("user_id"), col("ts"), lit(1).as("src"),
      col("event_id"), lit(null).cast("timestamp").as("r_ts"))
    val ord = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("src"), col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r.unionByName(l)
      .withColumn("prev_ts", last(col("r_ts"), ignoreNulls = true).over(back))
      .withColumn("next_ts", first(col("r_ts"), ignoreNulls = true).over(fwd))
      .filter(col("src") === 1)
      .withColumn("db", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .withColumn("df", unix_micros(col("next_ts")) - unix_micros(col("ts")))
      .withColumn("back_ok", col("prev_ts").isNotNull && col("db") <= NearTolUs)
      .withColumn("fwd_ok", col("next_ts").isNotNull && col("df") <= NearTolUs)
      .withColumn("direction",
        when(col("back_ok") && (!col("fwd_ok") || col("db") <= col("df")), lit("back"))
          .when(col("fwd_ok"), lit("fwd"))
          .otherwise(lit("none")))
      .withColumn("matched_view_ts",
        when(col("direction") === "back", col("prev_ts"))
          .when(col("direction") === "fwd", col("next_ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("matched_view_ts"), col("direction"))
      .orderBy("event_id")
  }
  val asofNearestToleranceSql: String =
    s"""WITH e AS (SELECT * FROM $EV),
       |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT DISTINCT user_id, ts FROM e WHERE event_type = 'view'),
       |b AS (
       |  SELECT p.event_id, v.ts AS prev_ts
       |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
       |f AS (
       |  SELECT p.event_id, v.ts AS next_ts
       |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts),
       |j AS (
       |  SELECT p.event_id, p.user_id, p.ts, b.prev_ts, f.next_ts,
       |         epoch_us(p.ts) - epoch_us(b.prev_ts) AS db,
       |         epoch_us(f.next_ts) - epoch_us(p.ts) AS df,
       |         (b.prev_ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(b.prev_ts) <= $NearTolUs) AS back_ok,
       |         (f.next_ts IS NOT NULL AND epoch_us(f.next_ts) - epoch_us(p.ts) <= $NearTolUs) AS fwd_ok
       |  FROM p JOIN b USING (event_id) JOIN f USING (event_id))
       |SELECT event_id, user_id, ts,
       |       CASE WHEN back_ok AND (NOT fwd_ok OR db <= df) THEN prev_ts
       |            WHEN fwd_ok THEN next_ts END AS matched_view_ts,
       |       CASE WHEN back_ok AND (NOT fwd_ok OR db <= df) THEN 'back'
       |            WHEN fwd_ok THEN 'fwd' ELSE 'none' END AS direction
       |FROM j ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // X133 attribution_report — last-touch revenue attribution
  // ---------------------------------------------------------------------

  /** Attribution lookback window (µs): 3 days. */
  private val AttrTolUs = 3L * 86400L * 1000000L

  /** Last-touch revenue attribution: each purchase's exact cents go to
    * the user's LATEST view-or-click within the 3-day lookback (ties at
    * the same touch ts break to 'view' — pinned); purchases with no
    * touch in window report under 'none'. The rollup every growth team
    * runs; built on the same union+window as-of core as X26/X132, with
    * the touch TYPE carried through the running-last as a packed
    * struct so one window does both jobs.
    *
    * Scale shape: one user-partitioned sort over purchases + touches,
    * row-local tolerance arithmetic, then a 3-row map-combinable
    * rollup. Cents are exact: floor(value·100) longs (the rfm_segments
    * spelling — the trunc-vs-round CAST trap documented there). */
  val attributionReport: Q = (spark, dir) => {
    val e = Tables.events(spark, dir)
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), lit(0).as("src"),
        lit(null).cast("long").as("event_id"), lit(0L).as("cents"),
        // tie rule inside the struct max: at one ts, 'view' beats
        // 'click' — struct ordering is field-by-field, so pack a
        // priority byte ahead of the name
        struct(col("ts").as("t"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("prio"),
          col("event_type").as("tpe")).as("touch"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("src"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        lit(null).cast("struct<t:timestamp,prio:bigint,tpe:string>").as("touch"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("src"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    touches.unionByName(purchases)
      .withColumn("last_touch", max(col("touch")).over(w))
      .filter(col("src") === 1)
      .withColumn("attributed",
        when(col("last_touch").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("last_touch.t")) <= AttrTolUs,
          col("last_touch.tpe")).otherwise(lit("none")))
      .groupBy(col("attributed").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents_total"))
      .orderBy("touch_type")
  }
  val attributionReportSql: String =
    s"""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
       |                  event_type, value FROM events),
       |p AS (SELECT event_id, user_id, ts,
       |             CAST(floor(value * 100) AS BIGINT) AS cents
       |      FROM e WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, ts,
       |             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS prio,
       |             event_type AS tpe
       |      FROM e WHERE event_type IN ('view', 'click')),
       |-- last touch at-or-before each purchase: max (ts, prio) per purchase
       |lt AS (
       |  SELECT event_id, tpe FROM (
       |    SELECT p.event_id, t.tpe,
       |           row_number() OVER (PARTITION BY p.event_id
       |                              ORDER BY t.ts DESC, t.prio DESC) AS rn
       |    FROM p JOIN t ON t.user_id = p.user_id
       |      AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 3 DAY)
       |  WHERE rn = 1)
       |SELECT coalesce(lt.tpe, 'none') AS touch_type,
       |       CAST(count(*) AS BIGINT) AS n_purchases,
       |       CAST(sum(p.cents) AS BIGINT) AS cents_total
       |FROM p LEFT JOIN lt USING (event_id)
       |GROUP BY 1 ORDER BY touch_type""".stripMargin

  val queries: Map[String, Query] = Map(
    "asof_join" -> Query(asofJoin, asofJoinSql),
    "range_join_count" -> Query(rangeJoinCount, rangeJoinCountSql),
    "asof_nearest_tolerance" -> Query(asofNearestTolerance, asofNearestToleranceSql),
    "attribution_report" -> Query(attributionReport, attributionReportSql),
  )
}
