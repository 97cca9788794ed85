package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale guard: NO query may plan an unbounded
  * nested-loop or cartesian join. PlanShapeSpec spot-asserts this for
  * the dedup/similarity family; this sweep covers every registered
  * query, so a future operator (or a refactor that breaks an equi-join
  * condition into a non-equi one) cannot silently reintroduce the one
  * join strategy that cannot survive a 100 TB input.
  *
  * The legitimate exception is the ONE-ROW scalar attach: a global
  * (grouping-free) aggregate — corpus count, moments, bounds arrays,
  * centroid arrays — broadcast-crossed onto a relation. Spark plans
  * that as BroadcastNestedLoopJoin, but the build side is guaranteed
  * a single row by the aggregate's own semantics, so the "nested loop"
  * is one pass over the stream side. The check therefore allows a
  * BNLJ exactly when either side is a projection over a global
  * aggregate (wrappers like Exchange/WholeStageCodegen stripped), and
  * flags everything else — including every CartesianProduct.
  */
class NestedLoopSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** True iff this subtree trivially produces at most one row: a
    * grouping-free aggregate, possibly under projections/exchanges/
    * codegen wrappers (each of which preserves row count or reduces
    * it). A join/generate/scan below the aggregate doesn't matter —
    * the AGGREGATE is what bounds the output. */
  private def oneRowBounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case other =>
      // wrappers that never increase the row count of their ONLY child
      val passThrough = other.getClass.getSimpleName match {
        case "ProjectExec" | "FilterExec" | "WholeStageCodegenExec" |
             "InputAdapter" | "BroadcastExchangeExec" | "ShuffleExchangeExec" |
             "CoalesceExec" | "SortExec" | "ColumnarToRowExec" |
             "AQEShuffleReadExec" | "ShuffleQueryStageExec" |
             "BroadcastQueryStageExec" | "ReusedExchangeExec" |
             "InMemoryTableScanExec" | "TableCacheQueryStageExec" |
             "AdaptiveSparkPlanExec" | "ResultQueryStageExec" => true
        case _ => false
      }
      passThrough && other.children.size <= 1 &&
        (other.children.headOption.exists(oneRowBounded) ||
          // cached one-row relations: look through the cached plan
          (other match {
            case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              oneRowBounded(im.relation.cachedPlan)
            case _ => false
          }))
  }

  /** BNLJs whose build side is bounded by CONSTRUCTION rather than by a
    * global aggregate — each justified at its call site and in
    * docs/SCALE.md ("No forced broadcasts on scaling join sides"):
    *  - `cosine_topk_bruteforce`: the hinted query set is
    *    `vec_id < NumQueries` (10 rows at any corpus size);
    *  - `ann_ivf_topk`: `crossJoin(broadcast(cent))`, cent ≤ IvfK rows
    *    by the stride rule (K constant in corpus size); the shared
    *    relation plans twice (assignment + probe side).
    * Counted, not blanket: a NEW nested loop in these queries still
    * fails. */
  private val BoundedByConstruction = Map(
    "cosine_topk_bruteforce" -> 1,
    // r20 rrf_fusion: the dense ranker is the cosine_topk_bruteforce
    // shape verbatim — corpus × the same bounded (< NumQueries)
    // broadcast query set; the lexical ranker is an equi-join on token.
    "rrf_fusion" -> 1,
    "ann_ivf_topk" -> 2,
    // X70: `crossJoin(broadcast(qrel))` — the hinted side is the ADC
    // query relation, `vec_id < PqQueries` (10 rows at any corpus size)
    "pq_adc_topk" -> 1,
    // X72: ONE fused corpus × bounded-query broadcast since r17 (ADC
    // and exact-baseline scoring share the pass)
    "pq_recall_report" -> 1,
    // X73: corpus × 10-row anchor set, the cosine_topk shape with a
    // row-local label filter
    "hard_negative_mine" -> 1,
    // X77: the same bounded anchor broadcast, ranked with packed ids
    "knn_label_eval" -> 1,
    // X78: corpus × the FIXED-SIZE eval suite (50 rows at any corpus)
    "embedding_decontam" -> 1,
    // X81: ann_ivf_topk's two plannings of corpus × broadcast(cent)
    // (cent ≤ IvfK rows by the stride rule) plus the queries × 3-row
    // probe-depth VALUES relation in the report-shape join
    "ivf_nprobe_recall" -> 3,
    // X83: the confusion lattice — DISTINCT labels (5) × the static
    // 5-row class relation; both sides bounded by the class inventory
    "lang_id_confusion" -> 1,
    // X88: the family's corpus × bounded-query broadcast
    // (vec_id < NumQueries = 10 rows at any corpus size)
    "matryoshka_recall" -> 1,
    // X106: the same corpus × bounded-query broadcast (the
    // cosine_topk_bruteforce shape; everything past it is heap- or
    // candidate-bounded)
    "mmr_rerank" -> 1,
    // X107: the trailing-week range join — distinct (user, day) ×
    // broadcast DAY LATTICE (grows with the calendar, never the
    // corpus); each user-day matches ≤ 7 lattice rows, so the output
    // is ≤ 7 × the distinct relation by construction
    "stickiness_report" -> 1,
    // X87: type relation × the 7-point permille lattice — the lattice
    // is a 1-row max aggregate exploded over a FIXED 7-literal array
    // (the explode hides the one-row bound from the detector)
    "vocab_growth_curve" -> 1,
    // X91: corpus × the class-centroid relation — bounded by label
    // cardinality (classes + the injected coherent class), the same
    // class-inventory bound as lang_id_confusion
    "label_centroid_audit" -> 1,
    // X99: the 7-row lattice (a 1-row total aggregate exploded over a
    // FIXED 7-literal array, X87's pattern) range-joined to the
    // distinct-count histogram — O(√tokens) rows by Zipf; both sides
    // bounded by construction at any corpus size
    "vocab_pareto_curve" -> 1,
    // X128: FILE MANIFEST (metadata-scale, zorder_layout's ~1 GB-per-
    // file argument) × the FIXED 2·2^ZBits predicate grid — both sides
    // corpus-size-independent by construction
    "zone_map_prune_audit" -> 1,
    // X134: the domain-bounded value HISTOGRAM × the FIXED 3-literal
    // quantile lattice (range(1) explode — X87's pattern, the one-row
    // bound hidden from the detector by the explode)
    "histogram_quantiles" -> 1,
    // X139: the same 3-literal quantile lattice crossed onto the
    // (type, day, cents) histogram — calendar- and domain-bounded
    "daily_quantile_trend" -> 1,
    // X140: the FIXED 5-literal pattern lattice crossed onto the
    // user-journey relation (≤ |patterns| fanout by construction)
    "sequence_match_report" -> 1,
    // X138: version intervals × the DISTINCT-DAY probe lattice —
    // calendar-bounded build side (the stickiness_report day-lattice
    // argument); each version row matches at most its interval's days
    "scd2_point_in_time" -> 1)

  test("no registered query plans an unbounded nested-loop or cartesian join") {
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      val plan = fn(spark, Dir).queryExecution.sparkPlan
      val bnlj = plan.collect {
        case j: BroadcastNestedLoopJoinExec
            if !oneRowBounded(j.left) && !oneRowBounded(j.right) => j
      }
      val cartesian = plan.collect { case c: CartesianProductExec => c }
      val allowed = BoundedByConstruction.getOrElse(name, 0)
      (if (bnlj.size > allowed)
        Seq(s"$name: ${bnlj.size} BroadcastNestedLoopJoin(s), $allowed allowed")
      else Nil) ++ cartesian.map(_ => s"$name: CartesianProduct")
    }
    assert(offenders.isEmpty,
      "\nUnbounded nested-loop/cartesian joins (the one join strategy that cannot" +
        " survive a 100 TB side):\n  " + offenders.distinct.mkString("\n  ") +
        "\n  Re-express as an equi-join (bucketed keys, band join, bounded probe set)," +
        " bound one side with a grouping-free aggregate, or — only for a" +
        " provably corpus-size-independent build side — extend the counted allowlist.")
  }
}
