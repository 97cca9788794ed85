package graft

/** Measures the SESSION-STAGE design's payoff — the number the main
  * bench deliberately cannot show. `graft.Bench` wipes cache and
  * persisted RDDs between queries so every measurement is isolated and
  * honest; that also re-prices the [[Tables.stage]] relations and
  * [[Models]] artifacts per query, hiding the multi-query operating
  * mode they exist for (a campaign materializes its signature / model
  * stage tables once and every downstream query rides them —
  * docs/SCALE.md).
  *
  * This main runs each staged FAMILY both ways, interleaved in one JVM
  * (the measurement discipline): ISOLATED = wipe between queries with
  * the campaign flag OFF (each re-pays its full chain, the per-query
  * bench semantics) vs CAMPAIGN = one session epoch with
  * [[Models.Flag]] ON and no wipes (the first consumer builds the
  * stage/artifact, the rest ride it). Emits ONE JSON line with a block
  * per family and writes `CAMPAIGN_BENCH.json` when run from the repo
  * root at the canonical sf0.1.
  */
object CampaignBench {
  /** The staged families a campaign actually runs as one session:
    *  - dedup: consumers of the session-staged MinHash signature
    *    relation (`Dedup.stagedSig`) plus the CC-label inheritors;
    *  - bigram_lm: consumers of the corpus-trained bigram fluency
    *    relation (`TextAnalysis.bigramFluency`, staged under the
    *    campaign flag) plus the DSIR selector whose hashed-gram model
    *    relations stage the same way;
    *  - pq: the product-quantization family sharing trained codebooks
    *    through the [[Models]] artifact registry (plus the CacheManager
    *    reusing the identical prepared-corpus plan across the pair). */
  private val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq(
      "minhash_lsh_candidates", "minhash_jaccard_estimate", "lsh_band_recall",
      "near_dup_cluster", "dedup_resolve", "dedup_rate_report",
      // r17: the candidate-graph centrality rides the same stage table
      "dup_graph_pagerank",
      // r18: the verify-threshold sweep rides it too (signatures +
      // candidate pairs both come from the staged relation)
      "dedup_threshold_sweep",
      // r19: bitext mining rides the same staged candidates (lang attach
      // is the only work past the shared pair relation)
      "parallel_pair_mine",
      // r19: the triangle census enumerates wedges over the same staged
      // candidate relation
      "dup_triangle_audit",
      // r20: the b-bit compression audit rides candidateJaccardRel, so
      // the staged signature relation is most of its isolated cost
      "bbit_minhash_audit"),
    "bigram_lm" -> Seq(
      "bigram_lm_score", "fluency_buckets", "doremi_weights",
      // dsir_select stages its own (model, mean) relations rather than
      // the fluency relation — listed with the family per the shared
      // model-staging design; its in-family saving is the CacheManager
      // plan-level reuse only
      "dsir_select"),
    "pq" -> Seq("pq_adc_topk", "pq_recall_report"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    val spark = Sessions.get("graft-campaign-bench")
    Bench.warmUp(spark, sfDir)

    val allQueries = Families.flatMap(_._2)
    // warm-up pass (uncounted): JIT, and every family's generated classes
    // into the codegen cache. The cache keeps them only because
    // Sessions.builder sizes it for the registry; at Spark's default of
    // 100 entries the families evict each other's classes every round.
    allQueries.foreach(q => Measure.query(spark, SparkEntry.queries(q), sfDir))

    val iso = scala.collection.mutable.Map.empty[String, List[Double]]
    val camp = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to rounds) {
      // ISOLATED: flag off, wipe between queries (per-query bench
      // semantics — the staged relations/artifacts re-price per query)
      spark.conf.unset(Models.Flag)
      allQueries.foreach(q =>
        iso(q) = Measure.query(spark, SparkEntry.queries(q), sfDir).wallS :: iso.getOrElse(q, Nil))
      // CAMPAIGN: one session epoch per family, flag on, no wipes —
      // the first consumer builds the stage/artifact, the rest ride
      // it; the family's last query wipes, so families don't
      // subsidize each other
      spark.conf.set(Models.Flag, "true")
      Families.foreach { case (_, qs) =>
        qs.foreach(q => camp(q) = Measure.query(spark, SparkEntry.queries(q), sfDir,
          isolate = q == qs.last).wallS :: camp.getOrElse(q, Nil))
      }
      spark.conf.unset(Models.Flag)
    }
    def min(m: collection.Map[String, List[Double]], q: String) = m(q).min
    val familyBlocks = Families.map { case (fam, qs) =>
      val isoT = qs.map(min(iso, _)).sum
      val campT = qs.map(min(camp, _)).sum
      val qJson = qs.map(q =>
        f""""$q":{"isolated":${min(iso, q)}%.3f,"campaign":${min(camp, q)}%.3f}""")
        .mkString("{", ",", "}")
      (isoT, campT,
        f""""$fam":{"isolated_sec":$isoT%.3f,"campaign_sec":$campT%.3f,"saving_pct":${100 * (isoT - campT) / isoT}%.1f,"queries":$qJson}""")
    }
    val isoTotal = familyBlocks.map(_._1).sum
    val campTotal = familyBlocks.map(_._2).sum
    val line =
      f"""{"metric":"campaign_vs_isolated","isolated_sec":$isoTotal%.3f,"campaign_sec":$campTotal%.3f,"saving_pct":${100 * (isoTotal - campTotal) / isoTotal}%.1f,"rounds":$rounds,"families":${familyBlocks.map(_._3).mkString("{", ",", "}")},"sf":"$sfDir"}"""
    println(line)
    System.err.println(line)
    Bench.recordCanonical("CAMPAIGN_BENCH.json", sfDir, line)
    spark.stop()
  }
}
