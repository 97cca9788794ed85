package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale guard #3: building a query's DataFrame must be
  * LAZY — a `collect`/`count`/eager checkpoint inside a query function
  * runs corpus-scale jobs at CONSTRUCTION time, before the caller ever
  * asks for rows, and is also how driver-side loops over data sneak
  * in. The sweep counts Spark jobs started while each registry entry
  * is constructed (no action invoked).
  *
  * Documented eager constructions are allowlisted by name with their
  * justification; anything else that starts a job at build time fails.
  * The allowance is `>= 0` jobs but NO LIMIT for listed queries —
  * their loops are iteration-count-bounded by operator semantics, and
  * pinning exact job counts would couple the spec to AQE internals.
  */
class ConstructionJobSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** Queries whose CONSTRUCTION legitimately runs jobs:
    *  - the CC family (`near_dup_cluster`, `dedup_resolve`,
    *    `corpus_pipeline`, `pipeline_layout`, `corpus_chunk_dedup` via
    *    shared stages): the label loop materializes each round
    *    (checkpoint lineage cut) and its round count is data-dependent
    *    — the loop must run to know the fixpoint;
    *  - `bpe_train_merges` / `bpe_encode` / `vocab_coverage` /
    *    `sequence_pack`-composed pipelines that embed the trained
    *    artifact: the merge loop picks each round's best pair with a
    *    bounded TakeOrdered action (rounds = NumMerges, a constant);
    *  - `ann_ivf_topk`: the IVF "training step" — one scalar count to
    *    derive the centroid stride (every real IVF build runs it);
    *  - `kmeans_assign` / `semdedup_prune`: the Lloyd loop collects
    *    K·Dim centroid longs per round (MLlib's own KMeans shape) —
    *    rounds = Iters, a constant; per-round state is KiB-sized at any
    *    corpus size;
    *  - `minhash_*`/`ann_lsh_*`/`semdedup_prune`/`exact_substr_*`:
    *    stage/signature relations localCheckpoint or persist eagerly
    *    so one materialization is shared across consumers.
    */
  private val EagerByDesign: Set[String] = Set(
    "near_dup_cluster", "dedup_resolve", "corpus_pipeline",
    "pipeline_layout", "corpus_chunk_dedup",
    "bpe_train_merges", "bpe_encode", "vocab_coverage",
    "ann_ivf_topk", "kmeans_assign",
    "minhash_lsh_candidates", "minhash_jaccard_estimate",
    "ann_lsh_bucket_top1", "semdedup_prune", "ngram_jaccard_pairs",
    "exact_substr_spans", "exact_substr_cut",
    // the CC label loop again, through the rate rollup (X69 rides the
    // same staged signature + checkpointed fixpoint as near_dup_cluster)
    "dedup_rate_report",
    // X70/X72: the PQ codebooks train through the same driver-collected
    // Lloyd rounds as kmeans_assign (seed draw + one fused update
    // aggregate at construction; state M·K·SubDim longs, O(1) in corpus)
    "pq_adc_topk", "pq_recall_report",
    // X74: the shared k-means core's driver-collected Lloyd rounds
    // (seed draw + centroid update collects; state K·Dim longs, O(1)
    // in corpus) run at construction, same as kmeans_assign
    "cluster_balanced_sample",
    // X76: rides the session-staged minhash signature relation (the
    // dedup family's stage table materializes with its first consumer)
    "dup_graph_pagerank",
    // X81: the IVF training step again — one scalar count derives the
    // centroid stride, same as ann_ivf_topk
    "ivf_nprobe_recall",
    // X101: the CC label loop a third time, through the quality×dup
    // contingency (rides clusterLabels' checkpointed fixpoint exactly
    // like near_dup_cluster / dedup_rate_report above)
    "quality_dup_lift",
    // X111: the candidate-pair lineage cut (r21) — the wedge
    // enumeration references the pair relation four ways, and the
    // uncut plan embedded the minhash chain 14×; one eager
    // localCheckpoint shares a single materialization (the
    // dup_graph_pagerank discipline, measurement at its definition)
    "dup_triangle_audit",
    // X135 (r22): the shared scan/signature layer — one eager
    // localCheckpoint of the per-doc window-hash set feeds BOTH audit
    // sides (truth shingles + LSH signatures), replacing two
    // independent scan+md5 subtrees; measurement at its definition
    "lsh_vs_exact_recall")

  test("query construction is lazy (no jobs before the first action)") {
    // the reader memo is not primed: a cold table read runs no job either
    Tables.invalidate(spark)
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      val n = Measure(spark)(fn(spark, Dir))._2.jobs.size // construct ONLY — no action
      if (n > 0 && !EagerByDesign.contains(name))
        Seq(s"$name: $n job(s) at construction")
      else Nil
    }
    assert(offenders.isEmpty,
      "\nQueries running Spark jobs at CONSTRUCTION time (eager action in the" +
        " query path):\n  " + offenders.distinct.mkString("\n  ") +
        "\n  Make the plan lazy, or — for a bounded training/fixpoint loop —" +
        " add the query to EagerByDesign with its justification.")
  }
}
