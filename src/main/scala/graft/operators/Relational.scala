package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operators from SURVEY.md §2 (reference:
  * coderanger/farmrpg-etl), re-expressed as declarative Spark plans over
  * the harness testdata.
  *
  * Conventions shared by every query here (and its DuckDB oracle):
  *   - deterministic output: a final orderBy on a unique key set. The
  *     sort is presentation-only for the harness compare; it is the last
  *     node in the plan, so it never constrains the interesting part.
  *   - double aggregation goes through DECIMAL(38,10) so the result is
  *     independent of partial-aggregation order on both engines, then is
  *     cast back to double so the output schema stays `double`.
  *   - `events.ts` is read via [[graft.Tables.events]] (nanos → micros),
  *     mirrored by `CAST(ts AS TIMESTAMP)` in the oracle SQL.
  */
object Relational {
  // ===========================================================================
  // A — aggregations / dedup / CDC (SURVEY §2.4)
  // ===========================================================================

  /** A1 `argmax_per_group` — latest event per user, the reference's most
    * load-bearing query ("current snapshot" = ORDER BY ts DESC LIMIT 1 per
    * user; farmrpg-etl db/user.py:17, api/auth.py:44-46, bots/firebase.py:23).
    *
    * Spark-first: single hash aggregate with `max_by` over a (ts, event_id)
    * ordering struct — one shuffle, no global sort, no window. At 100 TB this
    * beats the row_number() window (which must sort every partition) because
    * partial max_by combines map-side.
    */
  val argmaxPerGroup: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_type"), col("value"), col("event_id")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"),
        col("m.event_type").as("event_type"), col("m.value").as("value"))
      .orderBy("user_id")
  }
  val argmaxPerGroupSql: String =
    s"""SELECT user_id, ts, event_type, value FROM (
       |  SELECT user_id, ts, event_type, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM $EV) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** A2 `dedup_by_unique_key` — exactly-once insert semantics: unique-key
    * conflict swallow (db/chat.py:14-19). Batch analog: the input stream
    * re-delivers every row (union with itself); dedup restores set semantics.
    * `dropDuplicates` = hash-agg on the key, map-side combinable.
    */
  val dedupByUniqueKey: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    ev.unionByName(ev).dropDuplicates("event_id").orderBy("event_id")
  }
  val dedupByUniqueKeySql: String =
    s"""SELECT DISTINCT * FROM (
       |  SELECT * FROM $EV UNION ALL SELECT * FROM $EV) ORDER BY event_id""".stripMargin

  /** A3 `cdc_diff_consecutive` — SCD-style change suppression: emit a row
    * only when the non-key payload differs from the previous row for that
    * key, ignoring bookkeeping fields (db/user.py:12-40 ignores ts/user).
    */
  val cdcDiffConsecutive: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .filter(!(col("prev_type") <=> col("event_type")) ||
              !(col("prev_value") <=> col("value")))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("user_id", "ts", "event_id")
  }
  val cdcDiffConsecutiveSql: String =
    s"""SELECT user_id, event_id, ts, event_type, value FROM (
       |  SELECT *, lag(event_type) OVER w AS prev_type, lag(value) OVER w AS prev_value
       |  FROM $EV WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |WHERE prev_type IS DISTINCT FROM event_type OR prev_value IS DISTINCT FROM value
       |ORDER BY user_id, ts, event_id""".stripMargin

  /** A4 `stateful_last_value_diff` — batch analog of the chat scraper's
    * per-key last-value diff (scrapers/chat.py:158-171): detect the
    * false→true transition of a derived flag, stamp the transition time,
    * and carry it forward (like `deleted_ts`).
    */
  val statefulLastValueDiff: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("flag", col("value") > 150.0)
      .withColumn("chg", !(lag(col("flag"), 1).over(w) <=> col("flag")))
      .withColumn("flagged_ts",
        max(when(col("chg") && col("flag"), col("ts"))).over(wRun))
      .filter(col("chg"))
      .select(col("user_id"), col("event_id"), col("ts"), col("flag"), col("flagged_ts"))
      .orderBy("user_id", "ts", "event_id")
  }
  val statefulLastValueDiffSql: String =
    s"""SELECT user_id, event_id, ts, flag, flagged_ts FROM (
       |  SELECT user_id, event_id, ts, flag, chg,
       |         max(CASE WHEN chg AND flag THEN ts END)
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flagged_ts
       |  FROM (
       |    SELECT *, (value > 150.0) AS flag,
       |           (lag(value > 150.0) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |            IS DISTINCT FROM (value > 150.0)) AS chg
       |    FROM $EV))
       |WHERE chg ORDER BY user_id, ts, event_id""".stripMargin

  /** X46 `snapshot_diff` — corpus recrawl diff: classify every doc as
    * added / removed / changed between two snapshots (the reference's
    * per-row upsert-or-skip decision, db/chat.py:13-26, lifted to the
    * whole-corpus batch shape a recrawl pipeline runs before touching
    * any downstream stage — only the diff flows on).
    *
    * The "new" snapshot is synthesized deterministically from the old:
    * every 7th doc dropped (removed), every 4th surviving doc's text
    * edited (changed), every 10th re-keyed +2^41 (added). Content
    * comparison is by md5 PROJECTED BEFORE the join — the full-outer
    * join shuffles (doc_id, hash), never two copies of the text, so the
    * exchange is O(rows·32B) regardless of document size. Unchanged
    * rows are filtered out: the output is the (small) diff, which is
    * the point at 100 TB — downstream stages consume deltas, not
    * re-reads.
    */
  val snapshotDiff: Q = (spark, dir) => {
    val old = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val newSnap = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .select(
        when(col("doc_id") % 10 === 0, col("doc_id") + Dedup.ReKeyB)
          .otherwise(col("doc_id")).as("doc_id"),
        md5(when(col("doc_id") % 4 === 0, concat(col("text"), lit(" [recrawl-edit]")))
          .otherwise(col("text"))).as("h_new"))
    old.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy("doc_id")
  }
  val snapshotDiffSql: String =
    s"""WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents),
       |new_snap AS (
       |  SELECT CASE WHEN doc_id % 10 = 0 THEN doc_id + ${Dedup.ReKeyB} ELSE doc_id END AS doc_id,
      |         md5(CASE WHEN doc_id % 4 = 0 THEN text || ' [recrawl-edit]' ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 7 <> 0)
      |SELECT doc_id, status FROM (
      |  SELECT coalesce(old.doc_id, new_snap.doc_id) AS doc_id,
      |         CASE WHEN old.doc_id IS NULL THEN 'added'
      |              WHEN new_snap.doc_id IS NULL THEN 'removed'
      |              WHEN h_old <> h_new THEN 'changed' END AS status
      |  FROM old FULL OUTER JOIN new_snap ON old.doc_id = new_snap.doc_id)
      |WHERE status IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** A5 `bounded_state_dedup` — bounded-memory dedup (FIFO caches,
    * utils/cache.py:7-17) mapped to its scalable equivalent: keep the first
    * occurrence of a key within each event-time window (what
    * dropDuplicatesWithinWatermark does in streaming; this is the batch twin).
    */
  val boundedStateDedup: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("hour"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("hour", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }
  val boundedStateDedupSql: String =
    s"""SELECT event_id, ts, user_id, event_type, value FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY user_id, event_type, date_trunc('hour', ts)
       |    ORDER BY ts, event_id) AS rn
       |  FROM $EV) WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** A6 `update_rowcount_agg` — rows_updated count driving the
    * update-else-insert branch (bots/firebase.py:17-21): how many base rows
    * an update batch would match.
    */
  val updateRowcountAgg: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val updates = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    ev.join(updates, Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("n_updated"))
  }
  val updateRowcountAggSql: String =
    s"""SELECT count(*) AS n_updated FROM $EV e
       |WHERE EXISTS (SELECT 1 FROM $EV u
       |              WHERE u.event_type = 'purchase' AND u.user_id = e.user_id)""".stripMargin

  // ===========================================================================
  // J — joins (SURVEY §2.3)
  // ===========================================================================

  /** J1 `fk_equi_join` — select_related FK join (db/core/models.py:115-137):
    * fact ⋈ dimension. `customer` scales with the data (1.5M rows × SF), so
    * no broadcast hint: a hard hint would override AQE's size check and OOM
    * at the 100 TB design point. AQE picks BHJ while the dim is small and
    * falls back to SMJ/shuffled-hash beyond the threshold.
    */
  val fkEquiJoin: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_name"), col("c_mktsegment"))
      .orderBy("o_orderkey")
  }
  val fkEquiJoinSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** J2 `join_filter_through_fk` — filter across a relation
    * (`user__firebase_uid=...`, api/auth.py:44-46): predicate on the joined
    * dimension side; Catalyst pushes it below the join into the dim scan.
    */
  val joinFilterThroughFk: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"), col("c_name"), col("n_name"))
      .orderBy("c_custkey")
  }
  val joinFilterThroughFkSql: String =
    """SELECT c_custkey, c_name, n_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |              JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' ORDER BY c_custkey""".stripMargin

  /** J3 `composite_key_correlation_join` — correlate ID-less rows to their
    * source rows by composite key (flags → messages on (room, username, ts),
    * db/chat.py:22-26). Analog: correlate 'click' and 'purchase' events of
    * the same user on the same day; aggregate to pair counts.
    */
  val compositeKeyCorrelationJoin: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    clicks.join(purchases, Seq("user_id", "day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id", "day")
  }
  val compositeKeyCorrelationJoinSql: String =
    s"""SELECT c.user_id, c.day, count(*) AS n_pairs FROM
       |  (SELECT user_id, date_trunc('day', ts) AS day FROM $EV WHERE event_type = 'click') c
       |JOIN
       |  (SELECT user_id, date_trunc('day', ts) AS day FROM $EV WHERE event_type = 'purchase') p
       |ON c.user_id = p.user_id AND c.day = p.day
       |GROUP BY c.user_id, c.day ORDER BY c.user_id, c.day""".stripMargin

  /** J4 `upsert_get_or_create` — get_or_create (db/user.py:34): return the
    * existing row, else create one with defaults. Set formulation:
    * existing ∪ (requested ∖ existing), i.e. union + left-anti join.
    */
  val upsertGetOrCreate: Q = (spark, dir) => {
    val existing = Tables.customer(spark, dir)
      .filter(col("c_custkey") < 1000)
      .select(col("c_custkey"), col("c_name"), lit(false).as("created"))
    val requested = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey")).distinct()
    val created = requested
      .join(existing.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"),
        concat(lit("Customer#created#"), col("c_custkey")).as("c_name"),
        lit(true).as("created"))
    existing.unionByName(created).orderBy("c_custkey")
  }
  val upsertGetOrCreateSql: String =
    """SELECT c_custkey, c_name, false AS created FROM customer WHERE c_custkey < 1000
      |UNION ALL
      |SELECT o_custkey AS c_custkey, 'Customer#created#' || o_custkey AS c_name, true AS created
      |FROM (SELECT DISTINCT o_custkey FROM orders
      |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 1000))
      |ORDER BY c_custkey""".stripMargin

  /** J5 `scrape_fanout` — per-key fan-out (scrapers/user.py:97-102): the
    * online-user list drives one profile fetch per key. Relationally: the
    * distinct key list joined against the profile store (inner, one row per
    * driving key that resolves). Both sides scale with the data → no
    * broadcast hint; AQE chooses the strategy from runtime sizes.
    */
  val scrapeFanout: Q = (spark, dir) => {
    val online = Tables.events(spark, dir).select(col("user_id")).distinct()
    val profiles = Tables.customer(spark, dir)
    online.join(profiles, online("user_id") === profiles("c_custkey"))
      .select(col("user_id"), col("c_name"), col("c_mktsegment"))
      .orderBy("user_id")
  }
  val scrapeFanoutSql: String =
    s"""SELECT user_id, c_name, c_mktsegment
       |FROM (SELECT DISTINCT user_id FROM $EV) u
       |JOIN customer ON user_id = c_custkey ORDER BY user_id""".stripMargin

  /** J6 `anti_join_seen_set` — process only unseen keys
    * (scrapers/mailbox.py:106-113, firestore/chat.py:52-56): left-anti join
    * against the seen set. Analog: customers with no 'F'-status order.
    */
  val antiJoinSeenSet: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir)
    val seen = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    c.join(seen, c("c_custkey") === seen("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }
  val antiJoinSeenSetSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // ===========================================================================
  // P — projections / filters / scalar derivations (SURVEY §2.2)
  // ===========================================================================

  /** P1 `filter_eq_conjunctive` — ANDed equality kwargs filter
    * (db/chat.py:24-26). Both predicates push down to the parquet scan.
    */
  val filterEqConjunctive: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("user_id") % 10 === 3)
      .orderBy("event_id")
  val filterEqConjunctiveSql: String =
    s"SELECT * FROM $EV WHERE event_type = 'purchase' AND user_id % 10 = 3 ORDER BY event_id"

  /** P2 `filter_boolean` — boolean-condition guard filters
    * (scrapers/mailbox.py:108). */
  val filterBoolean: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("unread", col("value") > 100.0 && col("props").contains("\"k\": 1"))
      .filter(col("unread"))
      .select(col("event_id"), col("user_id"), col("value"), col("props"))
      .orderBy("event_id")
  val filterBooleanSql: String =
    s"""SELECT event_id, user_id, value, props FROM $EV
       |WHERE value > 100.0 AND contains(props, '"k": 1') ORDER BY event_id""".stripMargin

  /** P3 `project_drop_columns` — drop fields before the sink; conditionally
    * null a field so stale state isn't clobbered (firestore/chat.py:42-46:
    * drop `flags`, keep `deleted_ts` only when deleted). */
  val projectDropColumns: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("error_ts", when(col("event_type") === "error", col("ts")))
      .drop("props", "value")
      .orderBy("event_id")
  val projectDropColumnsSql: String =
    s"""SELECT event_id, ts, user_id, event_type,
       |       CASE WHEN event_type = 'error' THEN ts END AS error_ts
       |FROM $EV ORDER BY event_id""".stripMargin

  /** P4+P5 `derive_basename` — path-tail extraction (`src.rsplit("/",1)[-1]`,
    * scrapers/chat.py:79) and derived boolean flags (scrapers/chat.py:82). */
  val deriveBasename: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("path", concat_ws("/", lit("assets"), col("lang"), col("source")))
      .select(col("doc_id"), col("path"),
        substring_index(col("path"), "/", -1).as("emblem"),
        col("text").contains("spark").as("has_spark"))
      .orderBy("doc_id")
  val deriveBasenameSql: String =
    """SELECT doc_id, 'assets/' || lang || '/' || source AS path,
      |       source AS emblem, contains(text, 'spark') AS has_spark
      |FROM documents ORDER BY doc_id""".stripMargin

  /** P6 `parse_qs_extract` — query-string parameter extraction from URLs
    * (scrapers/user.py:68-70). Spark side uses the native `parse_url`
    * (codegen'd); oracle recomputes with regexp. */
  val parseQsExtract: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("url",
        concat(lit("https://example.com/profile.php?user_name="), col("source"),
          lit("&id="), col("doc_id")))
      .select(col("doc_id"), col("url"),
        parse_url(col("url"), lit("QUERY"), lit("user_name")).as("user_name"),
        parse_url(col("url"), lit("QUERY"), lit("id")).cast("long").as("id"))
      .orderBy("doc_id")
  val parseQsExtractSql: String =
    """SELECT doc_id,
      |       'https://example.com/profile.php?user_name=' || source || '&id=' || doc_id AS url,
      |       source AS user_name, doc_id AS id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** P7 `cast_str_int` — string→int casts of scraped fields
    * (scrapers/user.py:52): extract the numeric `k` from the JSON props
    * payload and cast.
    *
    * The scan is [[Tables.fanout]]-rebalanced: the sf0.1 events file is
    * one 2 MB scan partition, so the per-row JSON parse ran on ONE task
    * — twice, since the range sort's sampling pass re-evaluates the
    * projection. Fanning the scan runs both parse passes 32-way
    * (interleaved min-of-5 at sf0.1, r16: 0.575/0.652 fanned vs
    * 0.746/0.838 — faster all five rounds; fanout + parse-after-sort
    * measured WORSE, 1.030, the extra exchange defeats it). At real
    * scale the scan is many-partition by itself and fanout is a no-op
    * by construction. */
  val castStrInt: Q = (spark, dir) =>
    Tables.fanout(Tables.events(spark, dir))
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")
  val castStrIntSql: String =
    s"""SELECT event_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
       |FROM $EV ORDER BY event_id""".stripMargin

  /** P8 `synthetic_hash_id` — rows with no natural ID get a deterministic
    * hash of their content (scrapers/chat.py:109 uses CPython `hash(tuple)`).
    * We use md5 over a '|'-joined key: portable across engines and stable
    * across JVMs — unlike CPython's hash, which is neither. At scale, where
    * oracle parity is not a constraint, xxhash64 (see
    * [[graft.operators.Dedup]]) is the cheaper choice.
    */
  val syntheticHashId: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_id"),
        md5(concat_ws("|", col("user_id"), col("event_type"), col("props"))).as("synth_id"))
      .orderBy("event_id")
  val syntheticHashIdSql: String =
    s"""SELECT event_id, md5(user_id || '|' || event_type || '|' || props) AS synth_id
       |FROM $EV ORDER BY event_id""".stripMargin

  // ===========================================================================
  // S — sink semantics, batch analogs (SURVEY §2.1: S7-S10)
  // ===========================================================================

  /** S7 `jdbc_insert_sink` — idempotent insert: append only rows whose key is
    * not already present (unique-violation swallow, db/chat.py:13-19).
    * Sink state = even orderkeys; incoming = keys divisible by 3.
    */
  val jdbcInsertSink: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val existing = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val incoming = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    existing.unionByName(
        incoming.join(existing.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
      .orderBy("o_orderkey")
  }
  val jdbcInsertSinkSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** S8 `jdbc_update_sink` — keyed UPDATE: overwrite a field on matched rows,
    * keep the rest (db/chat.py:22-26). Updates = per-user max purchase value.
    * The update side's cardinality is O(users) — scales with data — so no
    * broadcast hint; AQE decides from the runtime size.
    */
  val jdbcUpdateSink: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val updates = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(max(col("value")).as("new_value"))
    ev.join(updates, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("new_value"), col("value")).as("value"))
      .orderBy("event_id")
  }
  val jdbcUpdateSinkSql: String =
    s"""SELECT e.event_id, e.user_id, e.event_type,
       |       coalesce(u.new_value, e.value) AS value
       |FROM $EV e LEFT JOIN (
       |  SELECT user_id, max(value) AS new_value FROM $EV
       |  WHERE event_type = 'purchase' GROUP BY user_id) u
       |ON e.user_id = u.user_id ORDER BY e.event_id""".stripMargin

  /** S9 `doc_merge_upsert_sink` — merge-upsert (`doc.set(merge=True)`,
    * firestore/chat.py:49-56): full-outer merge of current state with an
    * update batch; matched rows take the update, unmatched keep/insert.
    */
  val docMergeUpsertSink: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    // The %-filters make all three merge branches non-empty on testdata:
    // matched (update), state-only (keep), batch-only (insert).
    val state = ev.filter(col("event_type") === "signup" && col("user_id") % 5 =!= 0)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_seen"))
    val batch = ev.filter(col("event_type") === "view" && col("user_id") % 7 =!= 0)
      .groupBy(col("user_id")).agg(max(col("ts")).as("last_seen"))
    state.join(batch, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("first_seen"), col("last_seen"))
      .orderBy("user_id")
  }
  val docMergeUpsertSinkSql: String =
    s"""SELECT coalesce(s.user_id, b.user_id) AS user_id, s.first_seen, b.last_seen
       |FROM (SELECT user_id, min(ts) AS first_seen FROM $EV
       |      WHERE event_type = 'signup' AND user_id % 5 <> 0 GROUP BY user_id) s
       |FULL OUTER JOIN
       |     (SELECT user_id, max(ts) AS last_seen FROM $EV
       |      WHERE event_type = 'view' AND user_id % 7 <> 0 GROUP BY user_id) b
       |ON s.user_id = b.user_id ORDER BY user_id""".stripMargin

  /** S10 `startup_snapshot_scan` — load the existing-doc key set once, then
    * detect new keys (firestore/chat.py:31-36 + 52-56): distinct incoming
    * keys minus the known set. The known set is a broadcast (it is the small
    * side by construction, same as the reference's in-memory set).
    */
  val startupSnapshotScan: Q = (spark, dir) => {
    val known = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 2 === 0).select(col("c_custkey").as("user_id"))
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .join(broadcast(known), Seq("user_id"), "left_anti")
      .orderBy("user_id")
  }
  val startupSnapshotScanSql: String =
    s"""SELECT DISTINCT user_id FROM $EV
       |WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
       |ORDER BY user_id""".stripMargin

  // ===========================================================================
  // U — set operations (SURVEY §2.6)
  // ===========================================================================

  /** U1 `union_sources` — merge parallel sources into one stream
    * (online ∪ staff, __main__.py:56-63). */
  val unionSources: Q = (spark, dir) => {
    val c = Tables.customer(spark, dir)
      .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        lit("customer").as("src"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"),
        lit("supplier").as("src"))
    c.unionByName(s).orderBy("name", "src")
  }
  val unionSourcesSql: String =
    """SELECT * FROM (
      |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS src FROM customer
      |  UNION ALL
      |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS src FROM supplier)
      |ORDER BY name, src""".stripMargin

  /** U2 `distinct_membership` — new-member detection: distinct keys EXCEPT
    * the already-known set (firestore/chat.py:28,52-56). The known set is
    * "signed up in the first week" — every testdata user has SOME signup
    * event, so an unfiltered known set would make this vacuously empty. */
  val distinctMembership: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val all = ev.select(col("user_id")).distinct()
    val known = ev.filter(col("event_type") === "signup" &&
      col("ts") < to_timestamp(lit("2024-01-08 00:00:00"))).select(col("user_id"))
    all.except(known).orderBy("user_id")
  }
  val distinctMembershipSql: String =
    s"""SELECT DISTINCT user_id FROM $EV
       |EXCEPT SELECT user_id FROM $EV
       |       WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-08 00:00:00'
       |ORDER BY user_id""".stripMargin

  // ===========================================================================
  // W1/W2 — ordering / limits (SURVEY §2.5)
  // ===========================================================================

  /** W1 `order_desc_first` — `.order_by("-ts").first()` (db/user.py:17):
    * global top-1. Spark's sort+limit(1) is a TakeOrderedAndProject — no
    * full sort is materialized. */
  val orderDescFirst: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .orderBy(col("ts").desc, col("event_id").desc).limit(1)
  val orderDescFirstSql: String =
    s"SELECT * FROM $EV ORDER BY ts DESC, event_id DESC LIMIT 1"

  /** W2 `reverse_document_order` — replay rows oldest-first so state
    * transitions apply in event order (reversed(msgs), scrapers/chat.py:158).
    */
  val reverseDocumentOrder: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .orderBy(col("ts").asc, col("event_id").asc).limit(100)
  val reverseDocumentOrderSql: String =
    s"SELECT * FROM $EV ORDER BY ts ASC, event_id ASC LIMIT 100"

  // ===========================================================================
  // J7 — fact-table-scale join (SURVEY §2.3 family at full cardinality)
  // ===========================================================================

  /** J7 `fact_join_agg` — the gigabyte-scale shuffle the rest of the
    * suite doesn't exercise: lineitem ⋈ orders ⋈ customer at fact-table
    * cardinality with a group-aggregate on top (TPC-H Q3/Q5 shape;
    * reference anchor: the J1/J2 FK family, db/core/models.py:115-137,
    * at realistic fact cardinality). Plan at 100 TB: the shipdate filter
    * pushes to the lineitem scan; lineitem⋈orders shuffles on orderkey
    * (both sides scale — AQE picks SMJ/SHJ); customer is smaller but
    * also scales, so no forced broadcast — AQE decides from stats. The
    * revenue sum runs in EXACT integer money math — price in cents ×
    * discount complement in basis points, summed as BIGINT (order-
    * independent partials → map-side combinable), one int/int double
    * division at the end. (Decimal-pinning the double PRODUCT instead
    * diverges in the last ulp: Spark and DuckDB round double→decimal
    * differently — the per-row products sum exactly ≤ 6·10¹³ here,
    * far under the 2^62 overflow rule.)
    */
  val factJoinAgg: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1996-01-01 00:00:00")))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(round(col("l_extendedprice") * 100).cast("long") *
             (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .cast("double") / 1000000L).as("revenue"))
      .orderBy("c_mktsegment", "o_orderpriority")
  val factJoinAggSql: String =
    """SELECT c_mktsegment, o_orderpriority, count(*) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |                (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS DOUBLE)
      |         / 1000000 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY c_mktsegment, o_orderpriority
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  /** J8 `part_enrich_agg` — the second fact-scale join axis: lineitem ⋈
    * part on partkey with a brand/type rollup (TPC-H Q14 promo-revenue
    * shape; reference anchor: the same J1 `select_related` family,
    * db/core/models.py:115-137, enriching through the item dimension
    * instead of the customer one). Scale story: unlike nation/region,
    * `part` GROWS with the corpus (2k rows at sf0.01, millions at
    * 100 TB), so no forced broadcast — AQE flips the partkey join from
    * BHJ to SMJ/SHJ when the dimension outgrows the threshold. Shipdate
    * filter pushes to the lineitem scan; money math is the exact
    * cents × basis-points BIGINT sum; quantities are integral doubles
    * summed as BIGINT, so every aggregate is order-independent and
    * map-side combinable.
    */
  val partEnrichAgg: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1996-01-01 00:00:00")))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        (sum(round(col("l_extendedprice") * 100).cast("long") *
             (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .cast("double") / 1000000L).as("revenue"))
      .orderBy("p_brand", "p_type")
  val partEnrichAggSql: String =
    """SELECT p_brand, p_type, count(*) AS n_items,
      |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |                (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS DOUBLE)
      |         / 1000000 AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY p_brand, p_type
      |ORDER BY p_brand, p_type""".stripMargin

  // ---------------------------------------------------------------------
  // X127 fk_orphan_audit — referential-integrity audit over the star
  // ---------------------------------------------------------------------

  /** Referential-integrity audit: for every FK relationship of the star
    * schema, the child row count, the orphan count (child keys with no
    * parent), and the orphan share in per-mille — the ingest-quality
    * gate a warehouse runs after every load (a nonzero orphan rate
    * means the load order or the upstream extract is broken). NULL FKs
    * count as orphans: a row that cannot join its dimension is lost to
    * every downstream star join regardless of why.
    *
    * Scale shape: each relationship is ONE left-anti-shaped aggregate —
    * spelled as a left join + count of null parent keys so the child
    * scan is a single pass per relationship; parent sides are the
    * bounded dimension tables (broadcast, AQE-owned). Output is 5 rows
    * at any corpus size. */
  val fkOrphanAudit: Q = (spark, dir) => {
    def audit(rel: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      child.select(col(ck)).join(
          parent.select(col(pk).as("__pk")).distinct(),
          col(ck) === col("__pk"), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("orphan_rows"))
        .select(lit(rel).as("relationship"), col("child_rows"),
          col("orphan_rows"),
          // empty-child guard: harness tables are non-empty by contract,
          // but an empty child must read as 0-orphan, not a null/error
          // (Spark div -> NULL, DuckDB // -> error — both wrong)
          expr("CASE WHEN child_rows = 0 THEN 0L ELSE (orphan_rows * 1000) div child_rows END")
            .as("orphan_permille"))
    }
    val li = Tables.lineitem(spark, dir)
    Seq(
      audit("lineitem.orderkey->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      audit("lineitem.partkey->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      audit("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      audit("orders.custkey->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      audit("customer.nationkey->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
    ).reduce(_ unionByName _).orderBy("relationship")
  }
  val fkOrphanAuditSql: String = {
    def arm(rel: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$rel' AS relationship,
         |       CAST(count(*) AS BIGINT) AS child_rows,
         |       CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
         |       CAST(CASE WHEN count(*) = 0 THEN 0
         |            ELSE (sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) * 1000) // count(*) END AS BIGINT) AS orphan_permille
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$ck = p.$pk""".stripMargin
    Seq(
      arm("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      arm("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      arm("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      arm("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      arm("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ).mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  // ===========================================================================
  // registry
  // ===========================================================================

  val queries: Map[String, Query] = Map(
    "fk_orphan_audit" -> Query(fkOrphanAudit, fkOrphanAuditSql),
    "fact_join_agg" -> Query(factJoinAgg, factJoinAggSql),
    "part_enrich_agg" -> Query(partEnrichAgg, partEnrichAggSql),
    "argmax_per_group" -> Query(argmaxPerGroup, argmaxPerGroupSql),
    "dedup_by_unique_key" -> Query(dedupByUniqueKey, dedupByUniqueKeySql),
    "cdc_diff_consecutive" -> Query(cdcDiffConsecutive, cdcDiffConsecutiveSql),
    "snapshot_diff" -> Query(snapshotDiff, snapshotDiffSql),
    "stateful_last_value_diff" -> Query(statefulLastValueDiff, statefulLastValueDiffSql),
    "bounded_state_dedup" -> Query(boundedStateDedup, boundedStateDedupSql),
    "update_rowcount_agg" -> Query(updateRowcountAgg, updateRowcountAggSql),
    "fk_equi_join" -> Query(fkEquiJoin, fkEquiJoinSql),
    "join_filter_through_fk" -> Query(joinFilterThroughFk, joinFilterThroughFkSql),
    "composite_key_correlation_join" -> Query(compositeKeyCorrelationJoin, compositeKeyCorrelationJoinSql),
    "upsert_get_or_create" -> Query(upsertGetOrCreate, upsertGetOrCreateSql),
    "scrape_fanout" -> Query(scrapeFanout, scrapeFanoutSql),
    "anti_join_seen_set" -> Query(antiJoinSeenSet, antiJoinSeenSetSql),
    "filter_eq_conjunctive" -> Query(filterEqConjunctive, filterEqConjunctiveSql),
    "filter_boolean" -> Query(filterBoolean, filterBooleanSql),
    "project_drop_columns" -> Query(projectDropColumns, projectDropColumnsSql),
    "derive_basename" -> Query(deriveBasename, deriveBasenameSql),
    "parse_qs_extract" -> Query(parseQsExtract, parseQsExtractSql),
    "cast_str_int" -> Query(castStrInt, castStrIntSql),
    "synthetic_hash_id" -> Query(syntheticHashId, syntheticHashIdSql),
    "jdbc_insert_sink" -> Query(jdbcInsertSink, jdbcInsertSinkSql),
    "jdbc_update_sink" -> Query(jdbcUpdateSink, jdbcUpdateSinkSql),
    "doc_merge_upsert_sink" -> Query(docMergeUpsertSink, docMergeUpsertSinkSql),
    "startup_snapshot_scan" -> Query(startupSnapshotScan, startupSnapshotScanSql),
    "union_sources" -> Query(unionSources, unionSourcesSql),
    "distinct_membership" -> Query(distinctMembership, distinctMembershipSql),
    "order_desc_first" -> Query(orderDescFirst, orderDescFirstSql),
    "reverse_document_order" -> Query(reverseDocumentOrder, reverseDocumentOrderSql),
  )
}
