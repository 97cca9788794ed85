package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60, h60Duck}

/** Multi-dimensional OLAP surface over the TPC tables: rollup
  * hierarchies, pivoted cross-tabs, exact quantiles — the reporting
  * shapes a warehouse engine is expected to run next to the pipeline
  * operators. All aggregates here are counts/int-sums or int-sourced
  * interpolations, keeping the cross-engine parity rules intact.
  */
object Olap {
  /** Known dimension values (TPC-H enumerations) — pivot columns must be
    * explicit so the plan is static and both engines agree on schema. */
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // ---------------------------------------------------------------------
  // 1. rollup_agg — hierarchy subtotals in one pass
  // ---------------------------------------------------------------------

  /** Rollup over (mktsegment, orderpriority): detail rows + per-segment
    * subtotals + grand total in ONE aggregation pass (Spark expands
    * grouping sets internally — no N separate scans). NULL grouping
    * markers are coalesced to '(all)' so ordering semantics are
    * identical across engines (NULLS FIRST/LAST defaults differ).
    */
  val rollupAgg: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .rollup(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .select(coalesce(col("c_mktsegment"), lit("(all)")).as("mktsegment"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("n_orders"))
      .orderBy("mktsegment", "orderpriority")
  val rollupAggSql: String =
    """SELECT coalesce(c_mktsegment, '(all)') AS mktsegment,
      |       coalesce(o_orderpriority, '(all)') AS orderpriority,
      |       count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
      |ORDER BY mktsegment, orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // 1b. cube_agg — all grouping combinations in one pass
  // ---------------------------------------------------------------------

  /** Cube over (lang, source) on `documents`: detail + both one-dim
    * marginals + grand total — 2^d grouping sets in ONE aggregation
    * pass, where [[rollupAgg]] produces only the hierarchy's prefixes.
    * The corpus-reporting shape ("tokens by language × source, with
    * both margins") every dataset card needs. Same NULL-marker
    * coalescing as rollup so cross-engine ordering is identical.
    */
  val cubeAgg: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("n_docs"), col("chars"))
      .orderBy("lang", "source")
  val cubeAggSql: String =
    """SELECT coalesce(lang, '(all)') AS lang,
      |       coalesce(source, '(all)') AS source,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY CUBE (lang, source)
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------
  // 2. pivot_wide — cross-tab via the DataFrame pivot API
  // ---------------------------------------------------------------------

  /** Order counts per segment × priority as a WIDE table — the
    * DataFrame `pivot` API with explicit values (never inferred: value
    * inference is an extra distinct pass AND makes the schema
    * data-dependent, which breaks at scale and in any oracle compare).
    * The oracle spells the same thing as conditional aggregation.
    */
  val pivotWide: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .pivot("o_orderpriority", Priorities)
      .agg(count(lit(1)))
      .orderBy("mktsegment")
  val pivotWideSql: String = {
    val cols = Priorities.map(p =>
      s"""count(CASE WHEN o_orderpriority = '$p' THEN 1 END) AS "$p"""").mkString(",\n       ")
    s"""SELECT c_mktsegment AS mktsegment,
       |       $cols
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY mktsegment""".stripMargin
  }

  // ---------------------------------------------------------------------
  // 3. quantile_stats — exact percentiles per group
  // ---------------------------------------------------------------------

  /** Exact p50/p90 of document length per language. Spark's
    * `percentile` and DuckDB's `quantile_cont` both interpolate at
    * position (n−1)·q over the sorted values; with BIGINT inputs the
    * interpolation arithmetic is the same IEEE expression in both
    * engines, so the doubles match bit-for-bit (asserted by the oracle
    * hash). Exact percentile sorts within each group — the honest cost;
    * the approximate path at scale is `approx_percentile` (t-digest),
    * which has no cross-engine-exact oracle and so stays out of the
    * registry.
    */
  val quantileStats: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("p50_chars"),
        expr("percentile(n_chars, 0.9)").as("p90_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  val quantileStatsSql: String =
    """SELECT lang,
      |       quantile_cont(n_chars, 0.5) AS p50_chars,
      |       quantile_cont(n_chars, 0.9) AS p90_chars,
      |       count(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // 3b. quantile_sampled — the 100 TB quantile path, oracle-checkable
  // ---------------------------------------------------------------------

  private val SamplePerMille = 250

  /** The scale twin of [[quantileStats]]: exact percentile over a
    * DETERMINISTIC hash-coin sample (the `stratified_sample` coin, keyed
    * `qsample:<doc_id>`) instead of the full group. `approx_percentile`
    * (t-digest) is the usual answer but has no cross-engine-exact oracle;
    * a content-keyed sample is reproducible on any engine/partitioning,
    * so the sampled percentile IS hash-checkable — and it is the honest
    * 100 TB shape anyway: per-group sort cost drops by the sample rate
    * while the rank error is O(1/√(rate·n)) (≈±1.2 centile-ranks at the
    * p50 for a 10k-doc group at 25%; a 100 TB group at the same rate has
    * millions of sampled rows and negligible error — rate is the knob,
    * see docs/SCALE.md). The sample filter is a pushdown-friendly
    * row-parallel projection: no extra shuffle vs the unsampled query.
    */
  val quantileSampled: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .filter(pmod(h60(concat(lit("qsample:"), col("doc_id"))), lit(1000)) < SamplePerMille)
      .groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("p50_sampled"),
        expr("percentile(n_chars, 0.9)").as("p90_sampled"),
        count(lit(1)).as("n_sample"))
      .orderBy("lang")
  val quantileSampledSql: String =
    s"""SELECT lang,
       |       quantile_cont(n_chars, 0.5) AS p50_sampled,
       |       quantile_cont(n_chars, 0.9) AS p90_sampled,
       |       count(*) AS n_sample
       |FROM documents
       |WHERE ${h60Duck("'qsample:' || CAST(doc_id AS VARCHAR)")} % 1000 < $SamplePerMille
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // 4. profile_table — exact per-column data profiling
  // ---------------------------------------------------------------------

  /** Columns profiled and how min/max serialize. Only BIGINT and
    * VARCHAR columns: both stringify identically across engines
    * (doubles don't — scientific-notation thresholds differ, the same
    * class of trap as decimal-avg rounding). */
  private val ProfileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** Table profiling: one output row per column with row/null/distinct
    * counts and min/max — the first query every ingestion pipeline runs
    * against a new drop. Exact distincts (the profile contract).
    *
    * Shape: the non-distinct aggregates (rows, nulls, min, max) ride
    * ONE simple hash aggregate; each column's exact distinct count is
    * its OWN two-phase aggregate (partial-distinct → count), attached
    * by 1-row broadcast crossJoins. The r9 spelling put all four
    * `countDistinct`s in one Aggregate, which Spark plans as an EXPAND
    * — every input row replicated once per distinct column (5× the scan
    * on the shuffle) — and measured 1.8 s vs 0.4 s for this form at
    * sf0.1. The split is also the 100 TB shape: each per-column scan
    * prunes to that one column, so k profiled columns cost the same
    * total bytes as one k-column scan in a columnar format, while the
    * shuffles carry Σ per-column distinct values instead of k·rows; at
    * larger column counts the same shape carries
    * `approx_count_distinct` (one pass, no joins) instead.
    */
  val profileTable: Q = (spark, dir) => {
    val base = Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      ProfileCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))): _*)
    val withNd = ProfileCols.foldLeft(base) { (df, c) =>
      df.crossJoin(broadcast(
        Tables.orders(spark, dir).agg(countDistinct(col(c)).as(s"${c}_nd"))))
    }
    val stackArgs = ProfileCols.map(c =>
      s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
    withNd
      .selectExpr("n_rows",
        s"stack(${ProfileCols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_val, max_val)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        col("min_val"), col("max_val"))
      .orderBy("col_name")
  }
  val profileTableSql: String = {
    val aggCols = ProfileCols.map(c =>
      s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls,
         |  count(DISTINCT $c) AS ${c}_nd,
         |  CAST(min($c) AS VARCHAR) AS ${c}_min, CAST(max($c) AS VARCHAR) AS ${c}_max""".stripMargin)
      .mkString(",\n  ")
    val arms = ProfileCols.map(c =>
      s"SELECT '$c' AS col_name, n_rows, ${c}_nulls AS n_nulls, ${c}_nd AS n_distinct, " +
        s"${c}_min AS min_val, ${c}_max AS max_val FROM a").mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT count(*) AS n_rows,
       |  $aggCols
       |FROM orders)
       |$arms
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X124 grouping_sets_report — explicit GROUPING SETS with grouping_id
  // ---------------------------------------------------------------------

  /** Explicit GROUPING SETS — the general form `rollup_agg`/`cube_agg`
    * are shorthands of: exactly the four groupings ((lang, source),
    * (lang), (source), ()) in one pass, disambiguated by
    * `grouping_id()` (a NULL key cell could be a real NULL or a
    * rolled-up cell; the gid bitmask is the only sound discriminator,
    * and both engines define it identically: bit set = column rolled
    * up). Completes the OLAP grouping family with the shape BI tools
    * actually emit.
    *
    * Scale shape: Spark expands grouping sets in ONE Expand+hash-agg
    * pass (4× row multiplication before partial aggregation, map-side
    * combinable) — the same physical shape as cube/rollup, one
    * shuffle. */
  val groupingSetsReport: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")),
          Seq(col("source")), Seq.empty),
        col("lang"), col("source"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"))
      .select("gid", "lang", "source", "n_docs", "chars")
      .orderBy("gid", "lang", "source")
  val groupingSetsReportSql: String =
    """SELECT CAST(grouping(lang, source) AS BIGINT) AS gid, lang, source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
      |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // X134 histogram_quantiles — exact per-group quantiles, no corpus sort
  // ---------------------------------------------------------------------

  /** Quantile lattice (per-mille). */
  private val HQuantiles = Seq(500L, 900L, 990L)

  /** Exact DISCRETE per-type quantiles (P50/P90/P99 of the cents-
    * quantized value) computed from a VALUE HISTOGRAM — the monitoring-
    * system quantile path, and the X119 pattern applied to quantiles:
    * the naive spelling sorts each type's values in one partition
    * (`percentile`/`sort_array` holds a corpus-sized list per group);
    * this one collapses the corpus into (type, cents) counts — bounded
    * by the VALUE DOMAIN, not the row count — runs one cumulative
    * window over that histogram, and picks, per quantile q, the
    * smallest cents whose running count reaches ⌈q·n⌉. Exact and
    * deterministic (discrete lower quantile — no interpolation, no
    * float), mergeable (histograms add), and the same arithmetic in
    * both engines.
    *
    * Complements X23 (`quantile_stats`, exact via full sort at harness
    * scale) and X24 (`quantile_sampled`): this is the shape that holds
    * when the corpus does not fit a sort but the value domain is
    * bounded — which quantized cents always are. */
  /** The quantile extraction over any (event_type, cents, c) histogram
    * relation — shared by the batch query and the streaming twin
    * ([[graft.streaming.QuantileStream]] maintains the identical
    * histogram as its bounded state and reads quantiles through THIS
    * code, so batch/stream parity is by construction). */
  private[graft] def quantilesOfHist(hist: DataFrame): DataFrame =
    quantilesOfHistBy(hist, Seq("event_type"))

  /** The keyed generalization: quantiles per arbitrary key tuple over a
    * (keys..., cents, c) histogram — [[dailyQuantileTrend]] keys by
    * (event_type, day), the X134 path by event_type alone. */
  private[graft] def quantilesOfHistBy(hist: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val spark = hist.sparkSession
    val kc = keys.map(col)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        W.partitionBy(kc: _*).orderBy("cents")
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("n", sum(col("c")).over(
        W.partitionBy(kc: _*)
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val lattice = spark.range(1)
      .select(explode(lit(HQuantiles.toArray)).as("q_permille"))
    cum.crossJoin(broadcast(lattice))
      .filter(col("cum") * 1000 >= col("n") * col("q_permille"))
      .groupBy(kc :+ col("q_permille"): _*)
      .agg(min(col("cents")).as("cents_q"))
      .orderBy(kc :+ col("q_permille"): _*)
  }

  /** The (event_type, cents, c) histogram shape both paths aggregate. */
  private[graft] def centsHist(events: DataFrame): DataFrame =
    events
      .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))

  val histogramQuantiles: Q = (spark, dir) =>
    quantilesOfHist(centsHist(Tables.events(spark, dir)))
  val histogramQuantilesSql: String = {
    val lattice = HQuantiles.map(q => s"($q)").mkString(", ")
    s"""WITH hist AS (
       |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, cents, c,
       |         sum(c) OVER (PARTITION BY event_type ORDER BY cents
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(c) OVER (PARTITION BY event_type) AS n
       |  FROM hist),
       |lattice(q_permille) AS (VALUES $lattice)
       |SELECT event_type, CAST(q_permille AS BIGINT) AS q_permille,
       |       min(cents) AS cents_q
       |FROM cum CROSS JOIN lattice
       |WHERE cum * 1000 >= n * q_permille
       |GROUP BY 1, 2
       |ORDER BY event_type, q_permille""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X139 daily_quantile_trend — per-day quantile bands from histograms
  // ---------------------------------------------------------------------

  /** The monitoring TREND completing X134's point-in-time quantiles and
    * X120's count anomalies: exact discrete P50/P90/P99 of event value
    * per (event_type, DAY) — the latency/value band chart every
    * dashboard draws, and the per-day baseline a value-anomaly gate
    * compares against (X120 flags volume; this profiles magnitude).
    * Same numeric policy as X134: no interpolation, no floats —
    * cents_q = min cents with cum ≥ ⌈q·n⌉ inside each (type, day)
    * histogram.
    *
    * Scale shape: the corpus collapses into (type, day, cents) counts
    * bounded by types × days × VALUE DOMAIN — calendar- and
    * domain-bounded, never row-count-shaped; the cumulative window
    * partitions by (type, day) (one day's histogram per partition, ≤
    * cents-domain rows); the 3-row lattice cross join is the X134
    * counted allowlist. Histograms being mergeable, a deployment rolls
    * this up from the SAME daily state [[graft.streaming.QuantileStream]]
    * would keep per day. */
  val dailyQuantileTrend: Q = (spark, dir) =>
    quantilesOfHistBy(
      Tables.events(spark, dir)
        .withColumn("day", date_trunc("DAY", col("ts")))
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .groupBy("event_type", "day", "cents").agg(count(lit(1)).as("c")),
      Seq("event_type", "day"))
  val dailyQuantileTrendSql: String = {
    val lattice = HQuantiles.map(q => s"($q)").mkString(", ")
    s"""WITH hist AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |         CAST(floor(value * 100) AS BIGINT) AS cents,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2, 3),
       |cum AS (
       |  SELECT event_type, day, cents, c,
       |         sum(c) OVER (PARTITION BY event_type, day ORDER BY cents
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(c) OVER (PARTITION BY event_type, day) AS n
       |  FROM hist),
       |lattice(q_permille) AS (VALUES $lattice)
       |SELECT event_type, day, CAST(q_permille AS BIGINT) AS q_permille,
       |       min(cents) AS cents_q
       |FROM cum CROSS JOIN lattice
       |WHERE cum * 1000 >= n * q_permille
       |GROUP BY 1, 2, 3
       |ORDER BY event_type, day, q_permille""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "daily_quantile_trend" -> Query(dailyQuantileTrend, dailyQuantileTrendSql),
    "histogram_quantiles" -> Query(histogramQuantiles, histogramQuantilesSql),
    "grouping_sets_report" -> Query(groupingSetsReport, groupingSetsReportSql),
    "rollup_agg" -> Query(rollupAgg, rollupAggSql),
    "cube_agg" -> Query(cubeAgg, cubeAggSql),
    "pivot_wide" -> Query(pivotWide, pivotWideSql),
    "quantile_stats" -> Query(quantileStats, quantileStatsSql),
    "quantile_sampled" -> Query(quantileSampled, quantileSampledSql),
    "profile_table" -> Query(profileTable, profileTableSql),
  )
}
