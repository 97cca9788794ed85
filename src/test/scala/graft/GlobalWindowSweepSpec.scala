package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale guard #2: an UNPARTITIONED window moves every
  * input row to one partition and sorts it on a single thread — fine
  * over a provably bounded relation, fatal over the corpus. The
  * engine's three legitimate uses are prefix sums over aggregate
  * relations whose cardinality is corpus-size-independent (or grows
  * as √corpus), each documented in docs/SCALE.md:
  *  - `vocab_build`: offsets over the per-count DISTINCT-count
  *    aggregate (O(√tokens) rows by Zipf/Heaps);
  *  - `global_row_index`: bucket offsets over the bucket-count
  *    aggregate (fixed bucket count);
  *  - `zorder_layout` / `pipeline_layout`: file offsets over the
  *    Z-cell manifest (bounded cell count).
  * Counted per query, so a NEW global window — the classic
  * `row_number().over(Window.orderBy(...))` over a corpus relation —
  * fails here before it ships.
  */
class GlobalWindowSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** query → allowed unpartitioned-window count (bounded prefix sums). */
  private val BoundedPrefixSums = Map(
    "vocab_build" -> 1,
    "global_row_index" -> 1,
    // driver-r19 global_shuffle_order: the same bucket-offsets prefix
    // sum, over the 64-row shuffle-key bucket-count relation.
    "global_shuffle_order" -> 1,
    "zorder_layout" -> 1,
    "pipeline_layout" -> 1,
    // r16 scalar attaches respelled as global windows over BOUNDED
    // aggregate relations (measured wins vs the crossJoin subtree
    // recomputes — docs/SCALE.md r16):
    //  - doremi_weights: baseline + normalizing total over the
    //    per-SOURCE aggregate (domain-cardinality, corpus-independent);
    //  - mix_pipeline: gram-weighted mean over the hashed model
    //    relation (≤ DsirBuckets = 8192 rows by construction).
    "doremi_weights" -> 2,
    "mix_pipeline" -> 1,
    // r17 domain_token_gini: the Lorenz rank/prefix-sum, the scalar
    // total/count, and the Gini numerator all window over the
    // per-SOURCE mass aggregate (domain-cardinality, corpus-
    // independent — the corpus collapses in the ONE hash aggregate
    // above them); a global ordering over sources is the report's
    // semantics, not an accident.
    "domain_token_gini" -> 3,
    // r18 vocab_growth_curve: the saturation-rate lag runs over the
    // 7-point permille lattice (fixed size by construction — the corpus
    // collapsed in the first-seen aggregate above it).
    "vocab_growth_curve" -> 1,
    // r16-close additions, allowlisted r17 with the same bounded-input
    // arguments their scaladocs make:
    //  - batch_mixing_report: the permille share windows over the
    //    diversity HISTOGRAM — ≤ BatchDocs = 16 rows by construction
    //    (n_sources of a 16-doc batch is in 1..16); the corpus
    //    collapsed two aggregates above it.
    //  - vocab_pareto_curve: the cumulative (types, tokens) prefix sum
    //    runs over the DISTINCT-COUNT histogram — O(√tokens) rows by
    //    Zipf, the identical class as vocab_build's allowlisted offset
    //    window one entry up.
    "batch_mixing_report" -> 1,
    "vocab_pareto_curve" -> 1,
    // r19 funnel_report: the previous-step lag runs over the 3-row
    // funnel report (bounded by the step list's length — the corpus
    // collapsed in the per-step user-keyed aggregates above it).
    "funnel_report" -> 1,
    // driver-r19 window_funnel: the SAME shared report tail
    // (funnelReportOfCounts) over the 3-row level-count relation — the
    // corpus collapsed in one global 3-counter aggregate above it.
    "window_funnel" -> 1,
    // r19 user_path_ngrams: the share denominator sums over the path
    // HISTOGRAM — ≤ |event types|³ = 125 rows by construction (the
    // corpus collapsed in the path-count aggregate above it).
    "user_path_ngrams" -> 1,
    // r20 compaction_plan: the layout offsets window (zorder_layout's
    // allowlisted cell-manifest prefix sum) plus the compaction
    // running-sum — both over the FILE MANIFEST, metadata-scale by the
    // ~1 GB-per-file argument in the op's scaladoc.
    "compaction_plan" -> 2,
    // r20 zone_map_prune_audit: the inherited zorder_layout cell-offset
    // prefix sum — same ≤ 2^(2·ZBits)-row cell-count relation as the
    // zorder_layout entry above
    "zone_map_prune_audit" -> 1)

  test("no registered query plans an unpartitioned window over an unbounded relation") {
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      val plan = fn(spark, Dir).queryExecution.sparkPlan
      val global = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      val allowed = BoundedPrefixSums.getOrElse(name, 0)
      if (global.size > allowed)
        Seq(s"$name: ${global.size} unpartitioned Window(s), $allowed allowed")
      else Nil
    }
    assert(offenders.isEmpty,
      "\nUnpartitioned windows (single-partition sort of the whole input):\n  " +
        offenders.distinct.mkString("\n  ") +
        "\n  Partition the window by a key, rank via a bounded-heap aggregate" +
        " (graft_topk), or — only for a provably bounded input relation —" +
        " extend the counted allowlist with its justification.")
  }
}
