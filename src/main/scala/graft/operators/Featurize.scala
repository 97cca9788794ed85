package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60Duck, h60Sql}

/** Feature hashing and linear-model inference over `documents` — the
  * "model-based quality filter" stage of a curation pipeline, reduced
  * to its distributed essentials: hash tokens into a fixed-D count
  * vector (Weinberger et al. 2009 feature hashing; the fastText input
  * layer), then score with a fixed integer weight vector. Real
  * campaigns load trained weights; the harness derives deterministic
  * pseudo-weights so the INFERENCE machinery (vectorize → dot → keep
  * verdict) is what's exercised and oracle-checked.
  *
  * All integer arithmetic: counts are longs, weights are small ints,
  * scores are exact — the cross-engine determinism contract of the
  * Dedup/Semantic families. Shape: explode → codegen'd hash projection
  * → map-side-combinable (doc, bucket) agg; the shuffle carries ≤ D
  * rows per doc (hash_embed) or one partial sum per doc (scoring).
  */
object Featurize {
  /** Hashed-feature dimensionality. Tiny here; production uses 2^18+ —
    * the plan shape (pure projection) is D-independent. */
  val Dim = 16

  /** Deterministic pseudo-weights: w(i) = (i·2654435761) mod 1009 − 504
    * (Knuth multiplicative constant; zero-centered). `private[graft]`:
    * the streaming twin ([[graft.streaming.PrefPairStream]]) evaluates
    * the same model JVM-side. */
  private[graft] def weight(i: Int): Long =
    (i.toLong * 2654435761L) % 1009L - 504L

  /** (doc_id, h) one row per token, h = h60(token) mod D. The hash
    * runs as a CODEGEN'D column expression after the explode — an
    * array-lambda spelling (`transform(words, w -> md5...)`) evaluates
    * the hash interpreted per element and was ~10× slower at sf0.1. */
  private def tokenHashes(spark: SparkSession, dir: String): DataFrame =
    // no fanout: measured neutral — the hash fold pipelines into the
    // consumers' aggregation shuffles, which set the critical path
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), expr(s"pmod(${h60Sql("w")}, $Dim)").as("h"))

  // ---------------------------------------------------------------------
  // X34 hash_embed — feature-hashed bag-of-words vectors
  // ---------------------------------------------------------------------

  /** (doc_id, emb, nnz): the D-dim hashed count vector (comma-joined —
    * exact string compare beats array-column hashing in the driver) and
    * its nonzero count. */
  val hashEmbed: Q = (spark, dir) =>
    tokenHashes(spark, dir)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("h"), col("cnt")))).as("m"))
      .withColumn("cnts", expr(
        s"transform(sequence(0, ${Dim - 1}), i -> coalesce(m[CAST(i AS BIGINT)], 0L))"))
      // nnz = size(m), not a filter over cnts: counts are ≥ 1, so the
      // map's key count IS the nonzero count — and the second reference
      // to `m` keeps CollapseProject from inlining the
      // map_from_entries(collect_list(…)) into the transform's lambda,
      // where it would REBUILD the map per dense position (Dim× per
      // doc — the loop-invariant-lambda class LambdaInvariantSpec
      // guards; this query was its first real catch)
      .select(col("doc_id"),
        array_join(col("cnts"), ",").as("emb"),
        size(col("m")).cast("long").as("nnz"))
      .orderBy("doc_id")
  val hashEmbedSql: String = {
    val h = h60Duck("w")
    s"""SELECT doc_id,
       |       array_to_string(cnts, ',') AS emb,
       |       CAST(len(list_filter(cnts, c -> c > 0)) AS BIGINT) AS nnz
       |FROM (
       |  SELECT doc_id,
       |         list_transform(range(0, $Dim),
       |           i -> CAST(len(list_filter(hs, h -> h = i)) AS BIGINT)) AS cnts
       |  FROM (
       |    SELECT doc_id,
       |           list_transform(string_split(text, ' '),
       |             w -> ($h % $Dim + $Dim) % $Dim) AS hs
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X35 linear_quality_score — integer linear inference + keep verdict
  // ---------------------------------------------------------------------

  /** score = Σᵢ cnt[i]·w[i] = Σ_tokens w[h(token)]: each token row
    * contributes its bucket weight straight into one map-side-combinable
    * sum — the dense vector never materializes. The weights ride along
    * as an array literal (a loaded model broadcast in production). */
  val linearQualityScore: Q = (spark, dir) => {
    val w = (0 until Dim).map(weight).mkString("array(", "L, ", "L)")
    tokenHashes(spark, dir)
      .groupBy("doc_id")
      .agg(sum(expr(s"element_at($w, CAST(h + 1 AS INT))")).as("score"))
      .select(col("doc_id"), col("score"), (col("score") >= 0).as("keep"))
      .orderBy("doc_id")
  }
  val linearQualityScoreSql: String = {
    val h = h60Duck("w")
    val w = (0 until Dim).map(weight).mkString("[", ", ", "]")
    s"""SELECT doc_id, score, score >= 0 AS keep FROM (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |           i -> cnts[i] * ($w)[i])) AS BIGINT) AS score
       |  FROM (
       |    SELECT doc_id,
       |           list_transform(range(0, $Dim),
       |             i -> CAST(len(list_filter(hs, h -> h = i)) AS BIGINT)) AS cnts
       |    FROM (
       |      SELECT doc_id,
       |             list_transform(string_split(text, ' '),
       |               w -> ($h % $Dim + $Dim) % $Dim) AS hs
       |      FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X102 pref_pair_mine — preference pairs from the quality model
  // ---------------------------------------------------------------------

  /** Preference-pair mining — the construction step of a reward-model /
    * DPO training set, run over the harness's stand-in quality model:
    * within each (source, lang) stratum, pair the stratum's BEST-scoring
    * document (chosen) with its WORST (rejected) and record the exact
    * integer margin; strata where the model can't tell members apart
    * (margin 0, which also covers single-doc strata) yield no pair.
    * Ties break to the smaller doc_id on BOTH ends — the deterministic
    * total order both engines share.
    *
    * Scale shape: one token explode → ONE map-combinable per-doc score
    * aggregate (source/lang ride the key, functionally dependent on
    * doc_id — zero extra shuffle), then ONE stratum-keyed aggregate
    * whose state is two bounded structs (running max/min) — argmax by
    * `max(struct(score, −doc_id))`, the lexicographic-struct trick, so
    * NO window touches the corpus-sized score relation and no join
    * anywhere. Strata cardinality = sources × langs, corpus-independent. */
  val prefPairMine: Q = (spark, dir) => {
    val w = (0 until Dim).map(weight).mkString("array(", "L, ", "L)")
    val scores = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(split(col("text"), " ")).as("tk"))
      .select(col("doc_id"), col("source"), col("lang"),
        expr(s"pmod(${h60Sql("tk")}, $Dim)").as("h"))
      .groupBy("doc_id", "source", "lang")
      .agg(sum(expr(s"element_at($w, CAST(h + 1 AS INT))")).as("score"))
    scores.groupBy("source", "lang")
      .agg(
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("c"),
        min(struct(col("score"), col("doc_id").as("id"))).as("r"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), col("lang"),
        (-col("c.nid")).as("chosen_id"), col("r.id").as("rejected_id"),
        (col("c.score") - col("r.score")).as("margin"), col("n_docs"))
      .filter(col("margin") > 0)
      .orderBy("source", "lang")
  }
  val prefPairMineSql: String = {
    val h = h60Duck("tk")
    val w = (0 until Dim).map(weight).mkString("[", ", ", "]")
    s"""WITH s AS (
       |  SELECT doc_id, source, lang,
       |         CAST(list_sum(list_transform(string_split(text, ' '),
       |           tk -> ($w)[($h % $Dim + $Dim) % $Dim + 1])) AS BIGINT) AS score
       |  FROM documents),
       |r AS (
       |  SELECT source, lang, doc_id, score,
       |         row_number() OVER (PARTITION BY source, lang
       |                            ORDER BY score DESC, doc_id) AS rb,
       |         row_number() OVER (PARTITION BY source, lang
       |                            ORDER BY score, doc_id) AS rw
       |  FROM s)
       |SELECT * FROM (
       |  SELECT source, lang,
       |         max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id,
       |         max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id,
       |         max(CASE WHEN rb = 1 THEN score END)
       |           - max(CASE WHEN rw = 1 THEN score END) AS margin,
       |         CAST(count(*) AS BIGINT) AS n_docs
       |  FROM r GROUP BY source, lang)
       |WHERE margin > 0
       |ORDER BY source, lang""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "hash_embed" -> Query(hashEmbed, hashEmbedSql),
    "linear_quality_score" -> Query(linearQualityScore, linearQualityScoreSql),
    "pref_pair_mine" -> Query(prefPairMine, prefPairMineSql),
  )
}
