package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Dedup.h60Duck

/** Physical-layout planning: the pass that decides HOW a curated corpus
  * is written back to storage so that every later scan can skip most of
  * it. At 100 TB the dominant cost of the downstream pipeline is
  * re-reading the corpus; multi-dimensional clustering (Z-order — the
  * same technique behind Delta's OPTIMIZE ZORDER BY and commercial
  * warehouses' clustering keys) makes per-file min/max statistics
  * selective on EVERY clustered dimension at once, where a plain sort
  * is selective on its leading key only.
  */
object Layout {
  /** Bits per clustered dimension (4 → 16 buckets per dim, 256 cells). */
  private val ZBits = 4
  /** Target rows per output file. The testdata instantiation (64) keeps
    * ~8 files at sf0.01; a real campaign derives it from the target
    * file size (e.g. 1 GB / avg row width). */
  private val RowsPerFile = 64L

  /** Interleave two [[ZBits]]-bit integers x,y into the 2·ZBits-bit
    * Morton code x₀y₀x₁y₁… — pure shift/mask arithmetic, identical in
    * any engine with 64-bit ints. */
  private def mortonSql(x: String, y: String): String =
    (0 until ZBits).map(b =>
      s"((($x >> $b) & 1) << ${2 * b}) | ((($y >> $b) & 1) << ${2 * b + 1})")
      .mkString("(", ") | (", ")")

  /** `zorder_layout` — plan a Z-ordered rewrite of `documents` clustered
    * on (length, language): bucket both dimensions to [[ZBits]] bits,
    * interleave into a Morton code, assign rows to fixed-size files in
    * Morton order, and emit the FILE MANIFEST — per file: row count and
    * min/max of each dimension — which is exactly the metadata a scan
    * planner prunes on. Because Morton order keeps both dimensions
    * locally coherent, the min/max ranges stay narrow on BOTH `len_b`
    * and `lang_b` (a lexicographic sort would leave the second key's
    * range full-width in every file).
    *
    * Scale shape: the Morton code is a row-local projection. File
    * assignment needs a global rank in z-order — computed two-phase
    * exactly like [[TrainingMix.globalRowIndex]]: rank WITHIN each of
    * the ≤ 2^(2·ZBits) z-cells (parallel, bounded windows), prefix-sum
    * the 256-row cell-count relation, broadcast the offsets back. No
    * corpus-wide sort; the final manifest agg is map-side combinable.
    * (The rewrite itself would be `repartitionByRange(z)` + write —
    * the manifest is the decision artifact the oracle can check.)
    */
  /** The manifest core over any (doc_id, len_b, lang_b) relation —
    * shared by `zorder_layout` and the composed `pipeline_layout`. */
  /** The per-row file assignment under the Z-order plan — (doc_id,
    * len_b, lang_b, z, file_id). Split out of [[manifestOf]] so the
    * layout can be PHYSICALLY WRITTEN (partitioned by file_id) and the
    * manifest audited against the written files' actual Parquet footer
    * statistics (ZoneMapFooterSpec — the r18-verdict ask: the pruning
    * claim measured against what a scanner would really skip). */
  private[operators] def assignedOf(d0: DataFrame): DataFrame = {
    val d = d0.withColumn("z", expr(mortonSql("len_b", "lang_b")))
    val ranked = d.withColumn("rn",
      row_number().over(Window.partitionBy("z").orderBy("doc_id")))
    val offsets = d.groupBy("z").agg(count(lit(1)).as("zn"))
      .withColumn("off", coalesce(
        sum(col("zn")).over(Window.orderBy("z")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("z", "off")
    ranked.join(broadcast(offsets), "z")
      .withColumn("file_id", expr("(off + rn - 1) div " + RowsPerFile))
      .select("doc_id", "len_b", "lang_b", "z", "file_id")
  }

  private[operators] def manifestOf(d0: DataFrame): DataFrame =
    assignedOf(d0)
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("z").as("z_min"), max("z").as("z_max"),
        min("len_b").as("len_min"), max("len_b").as("len_max"),
        min("lang_b").as("lang_min"), max("lang_b").as("lang_max"))
      .orderBy("file_id")

  /** CTE chain producing `manifest(file_id, n_rows, z_min, z_max,
    * len_min, len_max, lang_min, lang_max)` over a relation
    * `rel(doc_id, len_b, lang_b)` (caller opens the WITH) — shared by
    * the two manifest-reporting queries and the compaction planner. */
  private[operators] def manifestCtes(rel: String): String = {
    val morton = mortonSql("len_b", "lang_b")
    s"""zz AS (SELECT doc_id, len_b, lang_b, $morton AS z FROM $rel),
       |rr AS (SELECT *, (row_number() OVER (ORDER BY z, doc_id) - 1) // $RowsPerFile AS file_id
       |      FROM zz),
       |manifest AS (
       |  SELECT file_id, count(*) AS n_rows,
       |         min(z) AS z_min, max(z) AS z_max,
       |         min(len_b) AS len_min, max(len_b) AS len_max,
       |         min(lang_b) AS lang_min, max(lang_b) AS lang_max
       |  FROM rr GROUP BY 1)""".stripMargin
  }

  /** CTE suffix + final select producing the manifest over a relation
    * `rel(doc_id, len_b, lang_b)` (caller opens the WITH). */
  private[operators] def manifestSql(rel: String): String =
    s"""${manifestCtes(rel)}
       |SELECT * FROM manifest ORDER BY file_id""".stripMargin

  /** The bucketed (doc_id, len_b, lang_b) relation both layout queries
    * cluster on. */
  private[operators] def zorderInput(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(expr(s"n_chars div 64"), lit((1 << ZBits) - 1)).as("len_b"),
        expr(s"pmod(${Dedup.h60Sql("lang")}, ${1 << ZBits})").as("lang_b"))

  val zorderLayout: Q = (spark, dir) => manifestOf(zorderInput(spark, dir))
  val zorderLayoutSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         least(n_chars // 64, ${(1 << ZBits) - 1}) AS len_b,
       |         ${h60Duck("lang")} % ${1 << ZBits} AS lang_b
       |  FROM documents),
       |${manifestSql("d")}""".stripMargin

  /** `pipeline_layout` — the composed write-planning pass: run the full
    * curation pipeline ([[Pipeline.corpusPipeline]] — dedup → CC
    * resolve → span removal → quality/PII → resample → pack) and plan
    * the Z-ordered layout of ITS survivors, clustered on
    * (token length, language). This is the missing last stage of a real
    * campaign: what ships to storage is the curated mix, laid out so
    * every later scan prunes on both dimensions. Composition is the
    * point (the registry's other composed query stops at packing):
    * the manifest consumes the pipeline's own n_tokens/lang columns,
    * and the oracle nests the entire already-proven pipeline CTE chain
    * as a subquery — one hash checks both the pipeline and the layout
    * arithmetic end-to-end.
    */
  val pipelineLayout: Q = (spark, dir) =>
    // LINEAGE CUT between the pipeline and the manifest (r21):
    // assignedOf reads its input twice (the per-cell rank window and
    // the offsets aggregate), and without the cut each consumer
    // re-entered the ENTIRE curation pipeline past its persisted
    // stages. The checkpointed relation is the narrow 3-column layout
    // input — rows × 24 B at any scale. Interleaved min-of-4 at
    // sf0.1: 6.60 → 5.71 s (med 7.01 → 6.03).
    // corpusPipelineCore, not the registered query (r22): the manifest
    // re-ranks by z-order windows, so the pipeline's corpus-wide
    // presentation sort (RangePartitioner sampling pass + full sort)
    // contributed nothing to this composition — output-identical
    // (assignedOf's windows are deterministic in (z, doc_id) regardless
    // of input order), two jobs and one exchange fewer.
    manifestOf(Dedup.cut(Pipeline.corpusPipelineCore(spark, dir)
      .select(col("doc_id"),
        least(expr("n_tokens div 4"), lit((1 << ZBits) - 1)).as("len_b"),
        expr(s"pmod(${Dedup.h60Sql("lang")}, ${1 << ZBits})").as("lang_b"))))
  // NOTE: the pipeline SQL is concatenated OUTSIDE any stripMargin —
  // it contains continuation lines that start with '||' (string
  // concat), which an enclosing stripMargin would truncate to '|'.
  val pipelineLayoutSql: String =
    "WITH pipe AS (\n" + Pipeline.corpusPipelineSql + "\n),\n" +
      s"""d AS (
         |  SELECT doc_id,
         |         least(n_tokens // 4, ${(1 << ZBits) - 1}) AS len_b,
         |         ${h60Duck("lang")} % ${1 << ZBits} AS lang_b
         |  FROM pipe),
         |${manifestSql("d")}""".stripMargin

  // ---------------------------------------------------------------------
  // X115 compaction_plan — small-file compaction planning over a manifest
  // ---------------------------------------------------------------------

  /** Target rows per compacted output (4 source files' worth — the
    * harness instantiation of "compact until ~1 GB"). */
  private val CompactTarget = RowsPerFile * 4

  /** The OTHER half of storage maintenance next to [[zorderLayout]]:
    * given the Z-ordered file manifest, plan which files merge into
    * which compaction group — the bin-packing pass behind Delta/Iceberg
    * OPTIMIZE. Files are packed in z-order (so compaction PRESERVES the
    * clustering the layout pass bought) by running-sum grouping:
    * group = prefix_rows div [[CompactTarget]] — files never split, every
    * group lands within one file of the target, and the plan is a pure
    * function of the manifest. Output per group: file span, row count,
    * and the z-range the group's min/max stats will carry after the
    * rewrite.
    *
    * Scale shape: every aggregate here runs over the FILE MANIFEST, not
    * the corpus — metadata-scale input (a real manifest row is a ~1 GB
    * file, so 100 TB ≈ 10⁵ rows — the transaction-log regime every
    * table format already serves from one node). The prefix sum is an
    * unpartitioned window over that bounded relation (counted
    * `GlobalWindowSweepSpec` allowlist, same class as the layout
    * offsets window it composes with); the corpus itself collapsed in
    * the manifest aggregate upstream. */
  val compactionPlan: Q = (spark, dir) => {
    val w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    manifestOf(zorderInput(spark, dir))
      .withColumn("off", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .withColumn("group_id", expr(s"off div $CompactTarget"))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        min("file_id").as("file_min"), max("file_id").as("file_max"),
        min("z_min").as("z_min"), max("z_max").as("z_max"))
      .orderBy("group_id")
  }
  val compactionPlanSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         least(n_chars // 64, ${(1 << ZBits) - 1}) AS len_b,
       |         ${h60Duck("lang")} % ${1 << ZBits} AS lang_b
       |  FROM documents),
       |${manifestCtes("d")},
       |g AS (
       |  SELECT *, COALESCE(sum(n_rows) OVER (ORDER BY file_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         // $CompactTarget AS group_id
       |  FROM manifest)
       |SELECT CAST(group_id AS BIGINT) AS group_id,
       |       CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       |       min(file_id) AS file_min, max(file_id) AS file_max,
       |       min(z_min) AS z_min, max(z_max) AS z_max
       |FROM g GROUP BY 1 ORDER BY group_id""".stripMargin

  // ---------------------------------------------------------------------
  // X128 zone_map_prune_audit — data-skipping effectiveness report
  // ---------------------------------------------------------------------

  /** Zone-map pruning audit over the Z-ordered manifest: for EVERY
    * point predicate on each clustered dimension (`len_b = v` /
    * `lang_b = v`, v over the full 2^ZBits bucket grid), how many files
    * a min/max zone map lets the scan planner SKIP — the report that
    * justifies (or indicts) the layout choice. This is the measurement
    * half of [[zorderLayout]]: the manifest is the decision artifact, the
    * prune ratio is its value; a lexicographic sort would score ~0 on
    * the second dimension, Morton order scores high on BOTH, and this
    * query is where that claim becomes a number.
    *
    * Scale shape: the manifest is metadata-scale (a row per file) and
    * the predicate grid is 2·2^ZBits rows; the audit is their bounded
    * cross join + one (dimension, value) aggregate. The corpus is
    * touched exactly once — to build the manifest it audits. */
  val zoneMapPruneAudit: Q = (spark, dir) => {
    val manifest = manifestOf(zorderInput(spark, dir))
    val grid = Seq("len_b", "lang_b").map { dim =>
      spark.range(1).select(lit(dim).as("dimension"),
        explode(expr(s"sequence(0L, ${(1 << ZBits) - 1}L)")).as("v"))
    }.reduce(_ unionByName _)
    manifest.crossJoin(broadcast(grid))
      .withColumn("pruned",
        when(col("dimension") === "len_b",
          col("v") < col("len_min") || col("v") > col("len_max"))
          .otherwise(col("v") < col("lang_min") || col("v") > col("lang_max")))
      .groupBy("dimension", "v")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"))
      .withColumn("prune_permille", expr("(n_pruned * 1000) div n_files"))
      .orderBy("dimension", "v")
  }
  val zoneMapPruneAuditSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         least(n_chars // 64, ${(1 << ZBits) - 1}) AS len_b,
       |         ${h60Duck("lang")} % ${1 << ZBits} AS lang_b
       |  FROM documents),
       |${manifestCtes("d")},
       |grid AS (
       |  SELECT 'len_b' AS dimension, unnest(range(0, ${1 << ZBits})) AS v
       |  UNION ALL
       |  SELECT 'lang_b' AS dimension, unnest(range(0, ${1 << ZBits})) AS v)
       |SELECT dimension, CAST(v AS BIGINT) AS v,
       |       CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(CASE WHEN (dimension = 'len_b' AND (v < len_min OR v > len_max))
       |                       OR (dimension = 'lang_b' AND (v < lang_min OR v > lang_max))
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       |       CAST((sum(CASE WHEN (dimension = 'len_b' AND (v < len_min OR v > len_max))
       |                        OR (dimension = 'lang_b' AND (v < lang_min OR v > lang_max))
       |                 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS prune_permille
       |FROM manifest CROSS JOIN grid
       |GROUP BY 1, 2
       |ORDER BY dimension, v""".stripMargin

  val queries: Map[String, Query] = Map(
    "zorder_layout" -> Query(zorderLayout, zorderLayoutSql),
    "pipeline_layout" -> Query(pipelineLayout, pipelineLayoutSql),
    "compaction_plan" -> Query(compactionPlan, compactionPlanSql),
    "zone_map_prune_audit" -> Query(zoneMapPruneAudit, zoneMapPruneAuditSql),
  )
}
