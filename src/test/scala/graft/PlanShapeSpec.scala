package graft

import org.apache.spark.sql.execution.SimpleMode
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Plan-shape regression tests: the scale properties documented in
  * docs/SCALE.md, enforced on the optimized physical plans so a
  * refactor can't silently reintroduce a cartesian product, lose a
  * pushdown, or force a broadcast on a scaling side. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Dir)
      .queryExecution.explainString(SimpleMode)

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("filter_eq_conjunctive")
    assert(p.contains("DataFilters") && p.contains("event_type"),
      s"expected event_type filter at the scan:\n$p")
  }

  test("column pruning: dropped columns never leave the scan") {
    val p = plan("project_drop_columns")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("value"),
      s"props/value should be pruned from ReadSchema:\n$readSchema")
  }

  test("argmax is a map-side-combinable aggregate, not a window sort") {
    val p = plan("argmax_per_group")
    assert(p.contains("partial_max_by"), s"expected partial max_by:\n$p")
    assert(!p.contains("Window"), s"argmax must not use a window:\n$p")
  }

  test("no forced broadcast on scaling join sides") {
    // fk_equi_join must leave strategy choice to the planner: the plan at
    // tiny SF may pick BHJ from statistics, but the LOGICAL plan must not
    // carry a broadcast hint on customer.
    val logical = SparkEntry.queries("fk_equi_join")(spark, Dir)
      .queryExecution.logical.toString
    assert(!logical.toLowerCase.contains("hint"),
      s"no broadcast hint expected in logical plan:\n$logical")
  }

  test("fact-scale joins: pushed shipdate filter, no forced broadcast, partial agg") {
    Seq("fact_join_agg", "part_enrich_agg").foreach { q =>
      val df = SparkEntry.queries(q)(spark, Dir)
      val logical = df.queryExecution.logical.toString
      assert(!logical.toLowerCase.contains("hint"),
        s"$q: join strategy must stay AQE/statistics-owned:\n$logical")
      val p = df.queryExecution.explainString(SimpleMode)
      assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
        s"$q: shipdate filter must reach the lineitem scan:\n$p")
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$q: aggregates must be map-side combinable:\n$p")
    }
  }

  test("dedup/similarity candidate generation is never a cartesian product") {
    Seq("minhash_lsh_candidates", "ngram_jaccard_pairs",
        "embedding_cosine_near_dup", "ann_lsh_bucket_top1",
        "benchmark_contamination", "corpus_chunk_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not be all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q must use equi-joins:\n$p")
    }
  }

  test("ngram_jaccard df-cap is an aggregate+join, never a window on the skewed shingle key") {
    val p = plan("ngram_jaccard_pairs")
    assert(!p.contains("Window"), s"df-cap must not sort on the hot shingle key:\n$p")
    assert(p.contains("partial_count"), s"expected map-side-combinable df aggregate:\n$p")
  }

  test("ngram pair fan-out re-expands parallelism and runs the native kernel") {
    // AQE sizes post-shuffle partitions by bytes, so the compact grouped
    // shingle relation coalesces to ~1 partition — serial for a stage
    // that expands 200x. The explicit round-robin repartition (which AQE
    // respects: user-specified partition counts are not re-coalesced)
    // must sit under the explode, and the enumeration must be the
    // codegen'd graft_pairs kernel, not interpreted lambdas.
    val p = plan("ngram_jaccard_pairs")
    assert(p.contains("RoundRobinPartitioning"),
      s"expected an explicit fan-out repartition before the pair explode:\n$p")
    assert(p.contains("graft_pairs"), s"expected the native pair kernel:\n$p")
    assert(!p.contains("sort_array"),
      s"value-compared enumeration needs no per-group sort:\n$p")
  }

  test("asof_join is join-free: union + running-last window, no pair materialization") {
    val p = plan("asof_join")
    assert(!p.contains("Join"), s"as-of must be the merge formulation, not a join:\n$p")
    assert(p.contains("Window"), s"expected the running-last window:\n$p")
  }

  test("range_join_count is a bucketed equi-join, never a nested-loop/cartesian") {
    val p = plan("range_join_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval condition must ride an equi-join via bucketing:\n$p")
  }

  test("stratified_sample is a pure projection+filter — no shuffle, no join") {
    val p = plan("stratified_sample")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"hash-coin sampling must not shuffle or join:\n$p")
  }

  test("per-row curation passes (repetition, PII) never shuffle or join") {
    Seq("repetition_score", "pii_redact").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
        s"$q must stay a pure projection:\n$p")
    }
  }

  test("split assignment and epoch replication happen where the rows live") {
    Seq("dataset_split", "epoch_upsample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
        s"$q must not shuffle or join:\n$p")
    }
    assert(plan("epoch_upsample").contains("Generate"),
      "epoch replication must be a generator explode, not a join against a weights table")
  }

  test("quantile_sampled keeps the unsampled plan shape: sample filter is a projection") {
    val p = plan("quantile_sampled")
    assert(!p.contains("Join"), s"the hash-coin sample must not join:\n$p")
    assert(p.contains("partial_percentile"),
      s"percentile must stay map-side combinable over the sample:\n$p")
  }

  test("sequence_pack is a sharded prefix sum: one window, no joins") {
    val p = plan("sequence_pack")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(p.contains("Window"), s"expected the sharded running-total window:\n$p")
  }

  test("temperature_resample decides per-row: no window, no global sort of the corpus") {
    val p = plan("temperature_resample")
    assert(!p.contains("Window"), s"threshold comes from a tiny agg, not a window:\n$p")
  }

  test("length_bucket_batches: one data exchange shared by window and batch aggregate") {
    // HashPartitioning(bucket, shard) must satisfy the wider
    // (bucket, shard, batch) clustering — exactly two exchanges total:
    // the lane hash partition and the deterministic final sort's range
    // partition. A third exchange means the aggregate stopped riding
    // the window's partitioning.
    val p = plan("length_bucket_batches")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected lane hash + final sort only, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"batching must not join:\n$p")
  }

  test("top-1 global sort is TakeOrderedAndProject, not a full sort") {
    assert(plan("order_desc_first").contains("TakeOrderedAndProject"))
  }

  test("windowed aggs are hash aggregates with partial combine") {
    val p = plan("tumbling_window_agg")
    assert(p.contains("HashAggregate") && p.contains("partial_"),
      s"expected partial hash agg:\n$p")
  }

  test("top_terms_agg ranks through a partial-combinable bounded heap, never a window") {
    val p = plan("top_terms_agg")
    assert(!p.contains("Window"),
      s"the vocabulary must never be window-sorted per language:\n$p")
    assert(p.contains("partial_graft_topk"),
      s"expected map-side partial top-k combine before the exchange:\n$p")
  }

  test("global_row_index: the only corpus window is per-bucket; the global one is bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = SparkEntry.queries("global_row_index")(spark, Dir)
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size == 2, s"expected the rank + offset windows; got ${windows.size}")
    val (global, perBucket) = windows.partition(_.partitionSpec.isEmpty)
    assert(perBucket.size == 1,
      "the corpus-sized rank window must be partitioned by bucket")
    // the unpartitioned prefix-sum window may only run over the
    // IndexBuckets-row count aggregate, never the corpus
    assert(global.size == 1 &&
      global.head.child.collectFirst { case a: Aggregate => a }.nonEmpty,
      "the global offset window must read the bucket-count aggregate")
  }

  test("random_projection is one shuffle-free codegen'd projection") {
    val p = plan("random_projection")
    assert(!p.contains("Exchange") || p.linesIterator.count(_.contains("Exchange")) <= 1,
      s"projection + final orderBy only:\n$p")
    Seq("Join", "Window").foreach(op =>
      assert(!p.contains(op), s"random_projection must not contain $op:\n$p"))
  }

  test("reservoir_sample pre-filters before the per-group rank window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Window => LWindow}
    val lp = SparkEntry.queries("reservoir_sample")(spark, Dir)
      .queryExecution.optimizedPlan
    val win = lp.collect { case w: LWindow => w }
    assert(win.size == 1 && win.head.partitionSpec.nonEmpty,
      "exactly one window, partitioned by group")
    // the hash threshold must apply BELOW the window — the optimizer
    // folds it into the group-size join's condition — so the rank sees
    // ~C·k rows per group, not n. (Spark 4 additionally inserts
    // WindowGroupLimit, bounding the sort at k either way.) The bound
    // literal is the cross-multiplied 2^60·C·k (overflow-free form).
    val thresholdBelow = win.head.child.collectFirst {
      case f: Filter if f.condition.toString.contains("92233720368547758080") => f
      case j: Join if j.condition.exists(_.toString.contains("92233720368547758080")) => j
    }
    assert(thresholdBelow.nonEmpty,
      s"threshold pre-filter must run under the window:\n$lp")
  }

  test("zorder_layout has no corpus-wide sort: windows are per-cell + bounded prefix sum") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = SparkEntry.queries("zorder_layout")(spark, Dir)
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size == 2, s"rank + offset windows expected:\n$lp")
    val (global, perCell) = windows.partition(_.partitionSpec.isEmpty)
    assert(perCell.size == 1, "the corpus rank window must be partitioned by z-cell")
    assert(global.size == 1 &&
      global.head.child.collectFirst { case a: Aggregate => a }.nonEmpty,
      "the prefix-sum window must read the 256-row cell-count aggregate")
  }

  test("bpe_train_merges: one native train aggregate, map-side combined, no join/window") {
    val p = plan("bpe_train_merges")
    assert(p.contains("graft_bpe_train"),
      s"training must run inside the native vocab aggregate:\n$p")
    assert(p.contains("partial_graft_bpe_train"),
      s"the word-count maps must combine map-side before the exchange:\n$p")
    assert(!p.contains("Join"), s"no join anywhere in BPE training:\n$p")
    assert(!p.contains("Window"), s"no window needed in BPE training:\n$p")
  }

  test("winnow_fingerprints is row-local: no join, no per-doc window shuffle") {
    val p = plan("winnow_fingerprints")
    assert(!p.contains("Join"), s"fingerprinting must not join:\n$p")
    assert(!p.contains("Window"),
      s"the sliding min is per-row array algebra, not a window shuffle:\n$p")
    assert(p.contains("graft_winhash"), s"expected the native window-hash kernel:\n$p")
  }

  test("vocab_coverage: vocab join AQE-owned, per-doc counts map-side combinable") {
    val df = SparkEntry.queries("vocab_coverage")(spark, Dir)
    val logical = df.queryExecution.logical.toString
    assert(!logical.toLowerCase.contains("hint"),
      s"the vocab join must stay AQE/statistics-owned (web-scale vocab may not broadcast):\n$logical")
    val p = df.queryExecution.explainString(SimpleMode)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc coverage counts must combine map-side:\n$p")
  }

  test("bigram_lm_score joins model relations, never a cartesian") {
    val p = plan("bigram_lm_score")
    assert(!p.contains("CartesianProduct"),
      s"model join must be keyed:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"model counts must be map-side combinable:\n$p")
  }

  test("sketch builds are map-side-combinable aggregates (cluster-mergeable state)") {
    // the property that lets sketches merge across executors/batches:
    // HLL registers via partial max, CMS cells via partial count
    assert(plan("hll_distinct").contains("partial_max"),
      "HLL register merge must be a partial max aggregate")
    // the batch CMS builds cells as count-weighted partial sums over the
    // vocab relation — still map-side combinable (sum merges like count)
    assert(plan("cms_heavy_hitters").contains("partial_sum"),
      "CMS cell counts must be partial sum aggregates")
  }

  test("no UDFs anywhere: every registered query plan is built-in/codegen expressions") {
    val offenders = TestSpark.sweepRegistry { (q, _) =>
      val p = plan(q)
      // mapPartitions-based scans legitimately show (De)SerializeFromObject;
      // scalar UDFs (ScalaUDF / BatchEvalPython) must never appear.
      if (p.contains("ScalaUDF") || p.contains("BatchEvalPython")) Seq(s"$q contains a UDF:\n$p")
      else Nil
    }
    assert(offenders.isEmpty, offenders.mkString("\n  ", "\n  ", ""))
  }
}
