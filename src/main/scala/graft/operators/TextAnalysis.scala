package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60Duck, h60Sql}

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language ID (marker-n-gram scoring), quality scoring, token counting
  * (whitespace + BPE-ish regex), rolling-hash fingerprinting, and per-lang
  * corpus stats. All pure column expressions — codegen'd, no UDFs, no
  * shuffles except the final stats aggregates.
  *
  * NOTE on the testdata: sf* documents share one vocabulary across langs,
  * so marker sets for `lang_id_ngram` are corpus-derived stand-ins (the
  * operator machinery — per-class marker counting + deterministic argmax —
  * is what's exercised; with real corpora you plug in real stopword or
  * char-n-gram marker lists).
  */
object TextAnalysis {
  // ---------------------------------------------------------------------
  // 1. lang_id_ngram — marker-token scoring + argmax
  // ---------------------------------------------------------------------

  /** class → marker tokens (corpus-derived; see object Scaladoc). */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "de" -> Seq("table", "row", "column"),
    "fr" -> Seq("join", "merge", "group"),
    "es" -> Seq("stream", "batch", "window"),
    "zh" -> Seq("spark", "hash", "sort"),
  )

  /** Per-class marker scores + first-wins argmax over any documents
    * relation — the scoring core shared by `lang_id_ngram` (the
    * doc-level listing) and `lang_id_confusion` (the eval rollup).
    * Pure array expressions: one pass, no explode, no shuffle. */
  private def langIdScored(d: DataFrame): DataFrame = {
    val scored = Markers.foldLeft(d.withColumn("words", split(col("text"), " "))) {
      case (df, (cls, ms)) =>
        val inList = ms.map(m => s"w = '$m'").mkString(" OR ")
        df.withColumn(s"s_$cls", expr(s"size(filter(words, w -> $inList))").cast("long"))
    }
    // argmax with first-wins tiebreak: fold a (best_score, best_cls) pair.
    val best = Markers.tail.foldLeft(
      struct(col(s"s_${Markers.head._1}").as("sc"), lit(Markers.head._1).as("cls"))) {
      case (acc, (cls, _)) =>
        when(col(s"s_$cls") > acc.getField("sc"),
          struct(col(s"s_$cls").as("sc"), lit(cls).as("cls"))).otherwise(acc)
    }
    scored.withColumn("pred_lang", best.getField("cls"))
  }

  /** Language ID: count marker-token hits per class over the token
    * stream, predict the argmax (ties broken by class-list order, i.e.
    * the first class with the max score — deterministic). */
  val langIdNgram: Q = (spark, dir) =>
    langIdScored(Tables.documents(spark, dir))
      .select((col("doc_id") +: Markers.map { case (c, _) => col(s"s_$c") }) :+
        col("pred_lang"): _*)
      .orderBy("doc_id")

  /** The DuckDB twin of the scoring projection (s_<cls> columns). */
  private val langScoresSql: String = Markers.map { case (cls, ms) =>
    val inList = ms.map(m => s"w = '$m'").mkString(" OR ")
    s"len(list_filter(string_split(text, ' '), w -> $inList)) AS s_$cls"
  }.mkString(",\n       ")
  /** First-wins argmax as SQL: strictly-greater chain in reverse class
    * order. */
  private val langArgmaxSql: String =
    Markers.reverse.tail.foldLeft(s"'${Markers.last._1}'") {
      case (acc, (cls, _)) =>
        val later = Markers.dropWhile(_._1 != cls).tail.map(c => s"s_$cls >= s_${c._1}")
        val earlier = Markers.takeWhile(_._1 != cls).map(c => s"s_$cls > s_${c._1}")
        s"CASE WHEN ${(earlier ++ later).mkString(" AND ")} THEN '$cls' ELSE $acc END"
    }
  val langIdNgramSql: String =
    s"""SELECT doc_id, ${Markers.map(m => "s_" + m._1).mkString(", ")},
       |       $langArgmaxSql AS pred_lang
       |FROM (SELECT doc_id, $langScoresSql FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X83 lang_id_confusion — the classifier's confusion-matrix eval
  // ---------------------------------------------------------------------

  /** The language-ID classifier graded against the corpus's `lang`
    * labels: the full (label × predicted-class) confusion lattice with
    * both marginals and the per-true-class share — the report that
    * turns "we run lang-ID" into "here is where it fails" (which
    * labels leak into which predicted class) before anyone trusts the
    * prediction as a routing key. Zero cells are kept so the contract
    * is the full L × K lattice at any corpus.
    *
    * Scale shape: prediction is [[langIdScored]]'s shuffle-free
    * projection; the corpus collapses in ONE map-side-combinable
    * (lang, pred) count — ≤ L·K cells regardless of corpus size — and
    * everything below (lattice join, marginal windows, permille share)
    * runs over that bounded relation. */
  val langIdConfusion: Q = (spark, dir) => {
    val cells = langIdScored(Tables.documents(spark, dir))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val lattice = Tables.documents(spark, dir).select("lang").distinct()
      .crossJoin(spark.createDataFrame(Markers.map(m => Tuple1(m._1)))
        .toDF("pred_lang"))
    lattice.join(cells, Seq("lang", "pred_lang"), "left_outer")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_true", sum("n").over(Window.partitionBy("lang")))
      .withColumn("n_pred", sum("n").over(Window.partitionBy("pred_lang")))
      .withColumn("share_of_true_permille", expr("(n * 1000) div n_true"))
      .select("lang", "pred_lang", "n", "n_true", "n_pred",
        "share_of_true_permille")
      .orderBy("lang", "pred_lang")
  }
  val langIdConfusionSql: String =
    s"""WITH p AS (
       |  SELECT lang, $langArgmaxSql AS pred_lang
       |  FROM (SELECT lang, $langScoresSql FROM documents)),
       |cells AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM p GROUP BY 1, 2),
       |m AS (
       |  SELECT la.lang, la.pred_lang, COALESCE(ce.n, 0) AS n
       |  FROM (SELECT l.lang, c.pred_lang
       |        FROM (SELECT DISTINCT lang FROM documents) l
       |        CROSS JOIN (VALUES ${Markers.map(m => s"('${m._1}')").mkString(", ")})
       |          c(pred_lang)) la
       |  LEFT JOIN cells ce USING (lang, pred_lang))
       |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
       |       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
       |       CAST(sum(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS n_pred,
       |       CAST((n * 1000) // sum(n) OVER (PARTITION BY lang) AS BIGINT)
       |         AS share_of_true_permille
       |FROM m ORDER BY lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------------
  // 2. text_quality_score — length / ratio heuristics → quality bucket
  // ---------------------------------------------------------------------

  /** Quality scoring: token count, mean word length, type-token ratio,
    * stopword ratio — combined into a bucket. All int/int double
    * divisions (bit-identical across engines). The classic pre-training
    * filter shape: one projection pass, fully pushed to the scan.
    */
  val textQualityScore: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("n_types", size(array_distinct(col("words"))).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(words, w -> w = 'a' OR w = 'the'))").cast("long"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("mean_word_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("quality",
        when(col("n_tokens") < 20, "too_short")
          .when(col("ttr") < 0.15, "repetitive")
          .when(col("stop_ratio") > 0.2, "boilerplate")
          .otherwise("ok"))
      .select("doc_id", "n_tokens", "n_types", "n_stop", "ttr", "stop_ratio",
        "mean_word_len", "quality")
      .orderBy("doc_id")
  val textQualityScoreSql: String =
    """SELECT doc_id, n_tokens, n_types, n_stop,
      |       CAST(n_types AS DOUBLE) / n_tokens AS ttr,
      |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len,
      |       CASE WHEN n_tokens < 20 THEN 'too_short'
      |            WHEN CAST(n_types AS DOUBLE) / n_tokens < 0.15 THEN 'repetitive'
      |            WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.2 THEN 'boilerplate'
      |            ELSE 'ok' END AS quality
      |FROM (
      |  SELECT doc_id, n_chars,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         len(list_distinct(string_split(text, ' '))) AS n_types,
      |         len(list_filter(string_split(text, ' '), w -> w = 'a' OR w = 'the')) AS n_stop
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 3. token_count — whitespace + BPE-ish regex tokenization
  // ---------------------------------------------------------------------

  /** Token counting two ways: whitespace split, and a BPE-ish regex
    * (letter runs / digit runs / single other chars) — the standard
    * pre-tokenizer shape. Counts only; pure projection.
    */
  val tokenCount: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_checked"))
      .orderBy("doc_id")
  val tokenCountSql: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
      |       length(text) AS n_chars_checked
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 4. doc_fingerprint — rolling polynomial hash + content hash
  // ---------------------------------------------------------------------

  private val Mod = 1000000007L

  /** Document fingerprint: a polynomial rolling hash over the word
    * stream (base 31, mod 1e9+7 — all intermediates < 2^35, so the
    * arithmetic is exact and identical in any 64-bit engine), plus the
    * full md5. The rolling form is what incremental/windowed
    * fingerprinting builds on at scale.
    */
  val docFingerprint: Q = (spark, dir) =>
    // fanout: per-token md5 fold — serial on the small-file scan
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        expr("aggregate(split(text, ' '), 0L," +
          s" (acc, w) -> (acc * 31 + ${h60Sql("w")} % $Mod) % $Mod)").as("fingerprint"),
        md5(col("text")).as("content_hash"))
      .orderBy("doc_id")
  val docFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        w -> ${h60Duck("w")} % $Mod)),
       |    (acc, h) -> (acc * 31 + h) % $Mod) AS fingerprint,
       |  md5(text) AS content_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 5. text_stats — per-language corpus aggregates
  // ---------------------------------------------------------------------

  /** Per-language corpus stats: doc count, token totals, avg length
    * (exact BIGINT sum, then one int/int double division — bit-exact
    * across engines, unlike decimal-avg whose last-ulp rounding
    * diverges), distinct sources. Single hash aggregate, map-side
    * combinable.
    */
  val textStats: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  val textStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |       count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // 6. top_terms_per_lang — per-class term ranking (vocabulary profiling)
  // ---------------------------------------------------------------------

  /** Top-5 terms per language by occurrence count (ties broken
    * lexically): the corpus-profiling pass behind stopword lists and
    * tf-idf vocabularies. Explode → hash agg (map-side combinable) →
    * per-lang top-k window over the small aggregated relation (one row
    * per distinct (lang, term) — the window sorts aggregates, never raw
    * tokens). Counts and ranks only — no float crosses the oracle. */
  val topTermsPerLang: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("n").desc, col("term"))))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("long").as("rank"), col("term"), col("n"))
      .orderBy("lang", "rank")
  val topTermsPerLangSql: String =
    """SELECT lang, rank, term, n FROM (
      |  SELECT lang, term, n,
      |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
      |  FROM (
      |    SELECT lang, term, count(*) AS n FROM (
      |      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      |    GROUP BY 1, 2))
      |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** The same ranking as [[topTermsPerLang]] (k = 8) through the
    * bounded-heap aggregate `graft_topk`
    * ([[graft.expressions.TopKByCount]]) instead of a window: the
    * per-lang vocabulary never gets window-sorted — each map task
    * combines its share down to ≤ k pairs per language before the
    * exchange, so the final shuffle carries O(partitions × langs × k)
    * rows however large the vocabulary grows. Registered alongside the
    * window variant so both shapes stay oracle-checked: same DuckDB
    * ranking query verifies both. */
  val topTermsAgg: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("n"))
      .groupBy("lang").agg(expr("graft_topk(n, term, 8)").as("tops"))
      .select(col("lang"), posexplode(col("tops")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.term").as("term"), col("col.n").as("n"))
      .orderBy("lang", "rank")
  val topTermsAggSql: String =
    """SELECT lang, rank, term, n FROM (
      |  SELECT lang, term, n,
      |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
      |  FROM (
      |    SELECT lang, term, count(*) AS n FROM (
      |      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      |    GROUP BY 1, 2))
      |WHERE rank <= 8 ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X45 bigram_lm_score — n-gram language-model fluency filter
  // ---------------------------------------------------------------------

  /** Fluency-keep threshold, in millionths (see Scaladoc): keep docs
    * whose mean scaled bigram probability clears it. */
  private val FluencyKeepMin = 20000L

  /** Model-based fluency scoring with a corpus-trained bigram LM — the
    * CCNet/KenLM-style "does this read like the reference corpus"
    * filter, here with the corpus as its own reference (self-perplexity
    * flags outlier docs; production would train counts on a trusted
    * corpus and score the crawl — same plan, different count source).
    *
    * Numeric policy: a true perplexity needs log-probabilities, and
    * `ln` is outside IEEE's correctly-rounded set (same reasoning as
    * [[Indexing.tfidfTopk]]'s idf) — so the score is the MEAN SCALED
    * CONDITIONAL PROBABILITY instead: per bigram occurrence
    * p = (c₂(w₁,w₂)·10⁶) div c₁(w₁), per doc
    * fluency = (Σ p) div (n−1) ∈ [0, 10⁶] — exact integers end to end,
    * monotone in the same direction as likelihood (a doc of
    * never-seen-in-corpus transitions scores ~0, formulaic text scores
    * high), deterministic across engines.
    *
    * Plan: the bigram explode feeds the model count and the scoring
    * join as two subtrees — deliberately NOT persisted: the duplicated
    * explode runs as concurrent AQE stages (wall-free at bench scale),
    * while a cache serializes the query behind one materialization
    * (interleaved min-of-4 at sf0.1: 1.20 s unpersisted vs 1.39 s
    * persisted — the same crossover bm25 measured, docs/SCALE.md r15).
    * The scan IS [[Tables.fanout]]-rebalanced — the opposite decision
    * from tfRel's, for a measured reason (interleaved min-of-5 at
    * sf0.1: fanout 1.00 s vs 1.35 s without; tfidf/bm25 re-measured
    * the same session and fanout still LOSES there): the zip_with
    * struct build + filter + explode is ~3× tfRel's per-row tokenize,
    * and the fanout exchange is one canonical subtree AQE stage-reuse
    * shares across BOTH duplicated corpus passes — so the serial
    * small-file scan runs once and every heavy pass above it runs
    * 32-way, where tfRel's cheap explode just pipelines into its
    * aggregate's shuffle write and the extra exchange is pure cost.
    * The unigram context count c₁ is a w₁-partitioned WINDOW sum over
    * the model relation (c₁(w₁) = Σ_{w₂} c₂(w₁,w₂), exactly the
    * occurrences-as-first-word count): one model subtree by
    * construction — the r14 c₁-aggregate + equi-join compiled the
    * corpus-fed c₂ subtree twice (different pushed null filters defeat
    * exchange reuse) — and the corpus joins the model once, carrying
    * the pre-divided p (AQE owns the side choice; a real deployment
    * broadcasts the trained model).
    */
  /** The shared per-doc fluency relation (doc_id, lang, source,
    * n_bigrams, fluency) — [[bigramLmScore]]'s core, also consumed by
    * [[fluencyBuckets]] and [[TrainingMix.doremiWeights]]. `lang` and
    * `source` ride the per-doc aggregate key (both are functionally
    * dependent on doc_id — zero extra shuffle).
    *
    * In a CAMPAIGN session ([[graft.Models.Flag]] set) the relation is
    * session-staged so the three consumers pay the two corpus passes
    * once, not once per query; SOLO it stays unstaged — the measured
    * crossover (persisting serializes the query behind one
    * materialization, losing to concurrent AQE subtrees) is in the
    * plan Scaladoc above. */
  private[operators] def bigramFluency(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.stageIf(spark, s"bigram_fluency:$dir")(bigramFluencyOf(spark, dir))

  private def bigramFluencyOf(spark: SparkSession, dir: String): DataFrame = {
    // r19: the corpus bigram pass moved to the native
    // [[graft.expressions.BigramPairs]] kernel. The prior zip_with
    // spelling (itself the fix for the r14 element_at per-element
    // re-split) ran its lambdas on the expression INTERPRETER — Spark
    // never codegens higher-order functions — and this pass is
    // duplicated into two AQE subtrees, so the interpreted cost was
    // paid twice; interleaved min-of-5 at sf0.1 on the full score
    // pipeline: 0.789 lambda vs 0.669 kernel, result-identical
    // (docs/SCALE.md r19). Docs with < 2 tokens yield an empty array
    // and vanish in the explode — the old filter's semantics.
    // The trailing isNotNull filter is semantically a no-op
    // (graft_bigrams never emits null words) but load-bearing for the
    // plan: the scoring JOIN pushes w1/w2 not-null filters into its
    // probe subtree and the c₂ aggregate side carries none, so without
    // it the two corpus subtrees differ below the fanout exchange and
    // ReuseExchange can't dedupe — spelling the filter on `bi` itself
    // makes both subtrees identical from the scan up through the
    // rebalance exchange, and the whole fluency pipeline drops from
    // 0.95 s to 0.79 s (interleaved min-of-5 at sf0.1, r19).
    val bi = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("graft_bigrams(text)")).as("b"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    // c₁ as a w₁-partitioned window sum over the model relation itself:
    // a separate c₁ aggregate + equi-join produces TWO copies of the c₂
    // subtree in the physical plan (the join pushes different
    // non-null filters into each, defeating exchange reuse — measured:
    // both corpus-fed aggregates ran). The window spelling builds the
    // model in one subtree; its partition is a single w₁'s distinct
    // successors, vocabulary-bounded by Zipf, never corpus-sized.
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val model = c2.select(col("w1"), col("w2"),
      expr("(c2 * 1000000L) div (sum(c2) OVER (PARTITION BY w1))").as("p"))
    bi.join(model, Seq("w1", "w2"))
      .groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("psum"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_bigrams"),
        expr("psum div n_bigrams").as("fluency"))
  }

  val bigramLmScore: Q = (spark, dir) =>
    bigramFluency(spark, dir)
      .select(col("doc_id"), col("n_bigrams"), col("fluency"),
        (col("fluency") >= FluencyKeepMin).as("keep"))
      .orderBy("doc_id")
  val bigramLmScoreSql: String =
    s"""WITH bi AS (
       |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(words)),
       |             i -> {'w1': words[i], 'w2': words[i+1]})) AS p
       |    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
       |    WHERE len(words) >= 2)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       |p AS (
       |  SELECT bi.doc_id, (c2.c2 * 1000000) // c1.c1 AS p
       |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(sum(p) // count(*) AS BIGINT) AS fluency,
       |       CAST(sum(p) // count(*) AS BIGINT) >= $FluencyKeepMin AS keep
       |FROM p GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X62 fluency_buckets — CCNet-style per-language perplexity terciles
  // ---------------------------------------------------------------------

  /** CCNet's head/middle/tail split (Wenzek et al. 2020), on the same
    * corpus-trained bigram LM as [[bigramLmScore]]: within each
    * language, rank docs by fluency and cut the ranking into three
    * equal tiers — head (most reference-like) is what CCNet-descended
    * recipes train on first, tail is what they drop or down-weight.
    * PER LANGUAGE is the load-bearing part: a global cut would grade
    * low-resource languages against the majority language's model mass
    * and bucket them wholesale into tail.
    *
    * Determinism: `ntile(3)` over the total order (fluency DESC,
    * doc_id) — both engines implement the SQL-standard ntile (earlier
    * buckets take the remainder docs), and the total order makes every
    * bucket boundary unique, so tier assignment is bit-identical.
    *
    * Scale shape: the fluency relation's audited plan plus ONE
    * lang-partitioned window — partition = one language's docs. At
    * 100 TB a single language is still ~10¹⁰ docs through one ntile
    * partition, so the production respelling of the SAME semantics is
    * the two-phase cut: per-(lang, fluency-range bucket) counts,
    * prefix offsets over the tiny bucket relation, tier =
    * offset-threshold compare — [[TrainingMix.globalRowIndex]]'s
    * offsets trick keyed by lang. The registered query keeps the
    * window spelling because its oracle pins ntile's exact
    * remainder-placement semantics. */
  /** tercile → tier projection shared by both spellings. */
  private def tiered(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), col("fluency"), col("tercile"),
      when(col("tercile") === 1, "head")
        .when(col("tercile") === 2, "middle")
        .otherwise("tail").as("tier"))
      .orderBy("doc_id")

  /** Single-window spelling over a (doc_id, lang, …, fluency) relation:
    * one ntile per language partition. */
  private[operators] def fluencyTerciledWindow(fl: DataFrame): DataFrame =
    tiered(fl.withColumn("tercile", ntile(3).over(
      Window.partitionBy("lang").orderBy(col("fluency").desc, col("doc_id")))
      .cast("long")))

  /** Coarse fluency class width for the two-phase rank (fluency ∈
    * [0, 10⁶] → ≤ 245 classes per language — the offsets relation
    * stays langs × classes, metadata-scale). */
  private val FluencyCoarseB = 4096L

  /** Two-phase respelling of the SAME ntile semantics (the r18-verdict
    * skew ask, landed): instead of sorting a whole language inside one
    * window partition, rank WITHIN each (lang, coarse fluency class) —
    * parallel, bounded partitions — prefix-sum the tiny class-count
    * relation into offsets (the [[TrainingMix.globalRowIndex]] trick
    * keyed by lang, descending classes), and assign the tercile from
    * the exact global rank with ntile's own remainder arithmetic:
    * n = 3q + r ⇒ the first r terciles take q+1 rows, thresholds
    * t₁ = q + (r≥1), t₂ = 2q + (r≥1) + (r≥2). Spec-pinned equal to the
    * window spelling row-for-row, remainders and single-language skew
    * included (FluencyTwoPhaseSpec). */
  private[operators] def fluencyTerciledTwoPhase(fl: DataFrame): DataFrame = {
    // ranked and offs both consume the coarse-classed relation; without
    // a persist the two join subtrees sit under DIFFERENT exchanges, so
    // the expensive multi-join bigramFluency pipeline beneath fl would
    // compute twice (r19 ADVICE) — in exactly the >=8 GiB regime this
    // path exists for. The persisted relation is narrow (doc_id, lang,
    // fluency, cb — ~24 B/row), MEMORY_AND_DISK by default, and both
    // references share the one InMemoryRelation (same analyzed subplan).
    // Cache LIFECYCLE belongs to the caller (the corpusPipeline
    // contract): this builder only returns a plan, so it cannot
    // unpersist "after the action" itself — both harnesses clear the
    // catalog cache after each query's action, and a long-lived ad-hoc
    // session invoking this repeatedly must do the same (r20 ADVICE:
    // retention past the action is intentional, not leaked).
    val b = fl.withColumn("cb", expr(s"fluency div $FluencyCoarseB")).persist()
    val ranked = b.withColumn("rn", row_number().over(
      Window.partitionBy("lang", "cb").orderBy(col("fluency").desc, col("doc_id"))))
    val offs = b.groupBy("lang", "cb").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(Window.partitionBy("lang").orderBy(col("cb").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("bn")).over(Window.partitionBy("lang")))
      .select("lang", "cb", "off", "n")
    tiered(ranked.join(broadcast(offs), Seq("lang", "cb"))
      .withColumn("rank", col("off") + col("rn"))
      .withColumn("tercile",
        when(col("rank") <= expr("n div 3 + if(n % 3 >= 1, 1, 0)"), 1L)
          .when(col("rank") <= expr(
            "2 * (n div 3) + if(n % 3 >= 1, 1, 0) + if(n % 3 >= 2, 1, 0)"), 2L)
          .otherwise(3L)))
  }

  /** Documents-scan size (bytes) at which fluency_buckets switches to
    * the two-phase rank: 8 GiB — at harness row widths that is ~10⁷
    * docs, the regime where a dominant language's single ntile
    * partition stops fitting one task comfortably; the harness SFs stay
    * far below it, so the registered query keeps the (faster at small
    * scale) window plan. */
  private[operators] val FluencyTwoPhaseMinBytes = 8L << 30

  /** The tercile spelling for a documents scan of `scanBytes`. */
  private[operators] def fluencyTerciled(fl: DataFrame, scanBytes: BigInt): DataFrame =
    if (scanBytes >= FluencyTwoPhaseMinBytes) fluencyTerciledTwoPhase(fl)
    else fluencyTerciledWindow(fl)

  val fluencyBuckets: Q = (spark, dir) =>
    fluencyTerciled(bigramFluency(spark, dir),
      Tables.documents(spark, dir).queryExecution.optimizedPlan.stats.sizeInBytes)
  val fluencyBucketsSql: String =
    s"""WITH bi AS (
       |  SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT doc_id, lang, unnest(list_transform(range(1, len(words)),
       |             i -> {'w1': words[i], 'w2': words[i+1]})) AS p
       |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
       |    WHERE len(words) >= 2)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       |p AS (
       |  SELECT bi.doc_id, bi.lang, (c2.c2 * 1000000) // c1.c1 AS p
       |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
       |f AS (
       |  SELECT doc_id, lang, CAST(sum(p) // count(*) AS BIGINT) AS fluency
       |  FROM p GROUP BY doc_id, lang)
       |SELECT doc_id, lang, fluency, tercile,
       |       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |            ELSE 'tail' END AS tier
       |FROM (
       |  SELECT doc_id, lang, fluency,
       |         CAST(ntile(3) OVER (PARTITION BY lang
       |                             ORDER BY fluency DESC, doc_id) AS BIGINT) AS tercile
       |  FROM f)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 9. winnow_fingerprints — winnowing document fingerprints
  // ---------------------------------------------------------------------

  /** Winnowing gram size and hash-window width (Schleimer et al. 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" §4 —
    * the MOSS scheme). Guarantee: any shared substring of at least
    * `WinnowK + WinnowW − 1` tokens produces at least one shared
    * fingerprint. */
  private val WinnowK = 4
  private val WinnowW = 4

  /** Winnowing fingerprints: hash every [[WinnowK]]-token window
    * ([[graft.expressions.WindowHash]] — the native rolling kernel),
    * then keep the MINIMUM hash of each [[WinnowW]]-long window of
    * hashes; the distinct kept values are the document's fingerprint
    * set — the index a plagiarism/near-dup campaign equi-joins on,
    * with density 2/(w+1) of all grams but the full substring-match
    * guarantee above.
    *
    * Scale shape: entirely ROW-LOCAL until the final explode (winhash
    * kernel + one sliding-min lambda over the per-doc hash array —
    * no token explode, no per-doc window shuffle), embarrassingly
    * parallel at any corpus size; output is the (doc, fp) posting
    * relation, ~2/(w+1) of gram count. The oracle spells the same
    * definition independently: per-position window min over an
    * exploded hash relation. */
  val winnowFingerprints: Q = (spark, dir) =>
    Tables.fanout(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= WinnowK + WinnowW - 1)
      .withColumn("hs", expr(s"graft_winhash(words, $WinnowK)"))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(hs) - $WinnowW + 1), " +
          s"i -> array_min(slice(hs, i, $WinnowW)))"))).as("fp"))
      .orderBy("doc_id", "fp")
  val winnowFingerprintsSql: String =
    s"""WITH ww AS (
       |  SELECT doc_id, words FROM (
       |    SELECT doc_id, string_split(text, ' ') AS words FROM documents)
       |  WHERE len(words) >= ${WinnowK + WinnowW - 1}),
       |hs AS (
       |  SELECT doc_id, i,
       |         ${h60Duck(s"array_to_string(words[i:i+${WinnowK - 1}], ' ')")} AS h
       |  FROM (SELECT doc_id, words, unnest(range(1, len(words) - ${WinnowK - 2})) AS i
       |        FROM ww)),
       |wmin AS (
       |  SELECT doc_id, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
       |         count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM hs)
       |SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= m - ${WinnowW - 1}
       |ORDER BY doc_id, fp""".stripMargin

  // ---------------------------------------------------------------------
  // 10. ngram_novelty — per-document corpus-novelty profile
  // ---------------------------------------------------------------------

  /** Novelty gram width. */
  private val NovelN = 3

  /** Per-document novelty: the fraction of a doc's distinct
    * [[NovelN]]-gram hashes that occur in NO other document — the
    * signal data-mixing recipes weight up (novel long-tail content)
    * and dedup reports track per source (a source whose novelty decays
    * is re-crawling itself). Grams are [[graft.expressions.WindowHash]]
    * hashes END TO END — both engines hash with the same md5-prefix
    * definition, so the comparison is identical by construction, not
    * merely collision-improbable.
    *
    * Scale shape: distinct-per-doc gram hashes (row-local kernel +
    * array_distinct, no string shuffles — 8-byte keys), one
    * map-side-combinable df aggregate over the gram relation, join
    * back, one per-doc count aggregate. The df relation is
    * vocabulary-shaped (Zipf), never corpus²; exact int/int double
    * division at the output. */
  val ngramNovelty: Q = (spark, dir) => {
    val grams = Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= NovelN)
      .select(col("doc_id"),
        explode(array_distinct(expr(s"graft_winhash(words, $NovelN)"))).as("g"))
      // read twice (df agg + join back) but deliberately LAZY — a
      // localCheckpoint measured SLOWER (0.8 -> 1.2 s at sf0.1); see
      // split_contamination for the same measured trade
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac", col("n_novel").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }
  val ngramNoveltySql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(words) - ${NovelN - 2}),
       |    i -> ${h60Duck(s"array_to_string(words[i:i+${NovelN - 1}], ' ')")}))) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
       |  WHERE len(words) >= $NovelN),
       |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
       |SELECT doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |         AS novelty_frac
       |FROM grams JOIN df USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X84 collocation_lift — PMI-ranked collocation mining
  // ---------------------------------------------------------------------

  /** Noise floor: a bigram must occur this often corpus-wide before it
    * can rank (the standard collocation-mining guard — a count-1 pair
    * of two rare words has sky-high lift and zero evidence). */
  private val MinColloc = 5L
  private val CollocK = 16

  /** Corpus collocations ranked by lift — the classic PMI mining
    * report (which word pairs co-occur far beyond chance), used to
    * seed tokenizer merge candidates and phrase dictionaries. Ranking
    * key is the N-free cohesion n_ab·10⁹ div (n_a·n_b): PMI is
    * log(n_ab·N/(n_a·n_b)) and both the constant N and the log are
    * monotone, so the integer cohesion ranks IDENTICALLY to PMI with
    * zero float/log divergence risk (the [[bigramLmScore]] numeric
    * policy). Counts are emitted alongside, so true PMI is one
    * driver-side log away. Harness bound: n_ab·10⁹ ≤ 2.8·10¹⁴ at
    * sfx1 — at real 10¹³-token scale the product overflows BIGINT and
    * the one-line swap is DECIMAL(38,0) arithmetic on both engines.
    *
    * Scale shape: bigram and unigram counts are map-side-combinable
    * hash aggregates over one tokenization pass each; the two stat
    * joins are vocab-sized (AQE broadcasts the unigram side); the
    * global top-K is kernel #4 `graft_topk` — a partial-combinable
    * bounded heap, O(K) per task, NO global window/sort anywhere — and
    * the stats join-back broadcasts K = [[CollocK]] rows. */
  val collocationLift: Q = (spark, dir) => {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val grams = toks.select(explode(expr(
        "if(size(ws) > 1, transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))), " +
          "array())")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinColloc)
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .withColumn("cohesion_ppb",
        expr("(n_ab * 1000000000L) div (n_a * n_b)"))
    grams
      .agg(expr(s"graft_topk(cohesion_ppb, g, $CollocK)").as("tops"))
      .select(posexplode(col("tops")))
      .select((col("pos") + 1).cast("long").as("rank"), col("col.term").as("g"))
      .join(grams.select("g", "w1", "w2", "n_ab", "n_a", "n_b", "cohesion_ppb"),
        Seq("g"))
      .select("rank", "w1", "w2", "n_ab", "n_a", "n_b", "cohesion_ppb")
      .orderBy("rank")
  }
  val collocationLiftSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_w
       |  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1),
       |grams AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM (SELECT unnest(list_transform(range(1, len(ws)),
       |          i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) AS g
       |        FROM toks)
       |  GROUP BY 1 HAVING count(*) >= $MinColloc),
       |stats AS (
       |  SELECT g, str_split(g, ' ')[1] AS w1, str_split(g, ' ')[2] AS w2,
       |         n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
       |         CAST((n_ab * 1000000000) // (ua.n_w * ub.n_w) AS BIGINT)
       |           AS cohesion_ppb
       |  FROM grams
       |  JOIN uni ua ON ua.w = str_split(g, ' ')[1]
       |  JOIN uni ub ON ub.w = str_split(g, ' ')[2]),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY cohesion_ppb DESC, g)
       |                 AS BIGINT) AS rank
       |  FROM stats)
       |SELECT rank, w1, w2, n_ab, n_a, n_b, cohesion_ppb
       |FROM ranked WHERE rank <= $CollocK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // 14. vocab_growth_curve — Heaps'-law vocabulary growth audit
  // ---------------------------------------------------------------------

  /** Prefix sizes of the curve, in permille of the corpus. */
  private val GrowthPermilles = Seq(10L, 20L, 50L, 100L, 200L, 500L, 1000L)

  /** The Heaps'-law curve: distinct token TYPES seen in the first p‰ of
    * the corpus (by doc_id ingest order), for seven prefix sizes — the
    * audit a tokenizer/vocab design reads before sizing a vocabulary or
    * extrapolating dedup/df-cap behavior to the next decade of crawl
    * (this repo's own scale arguments lean on "vocabulary grows
    * sub-linearly"; this query measures that claim on the shipped
    * corpus). `growth_permille` = 1000·V(p)/V(prev) exposes the
    * saturation rate between consecutive points as an exact integer —
    * a corpus whose curve stays near each decade's data-growth ratio
    * is still open-vocabulary; one that collapses toward 1000 has
    * saturated (the synthetic sf* word list saturates fast, which the
    * spec pins as the expected signal).
    *
    * Scale shape: ONE corpus pass explodes tokens; the (type →
    * min(doc_id)) first-seen aggregate is map-side combinable and
    * collapses everything to the TYPE relation (sub-corpus by Heaps —
    * the very law being measured); token keys cross the shuffle as h60
    * ints, never strings. The 7-point lattice (from a 1-row max
    * aggregate) broadcast-attaches onto the type relation; the final
    * lag window runs over exactly 7 rows (GlobalWindowSweepSpec
    * allowlisted). */
  val vocabGrowthCurve: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val firstSeen = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), expr(h60Sql("w")).as("t"))
      .groupBy("t").agg(min(col("doc_id")).as("first_seen"))
    val lattice = docs.agg((max(col("doc_id")) + 1).as("n_docs"))
      .select(col("n_docs"),
        explode(array(GrowthPermilles.map(lit): _*)).as("permille"))
      .select(col("permille"),
        expr("(n_docs * permille) div 1000").as("docs_prefix"))
    firstSeen.crossJoin(broadcast(lattice))
      .groupBy("permille", "docs_prefix")
      .agg(count_if(col("first_seen") < col("docs_prefix")).as("vocab_types"))
      .withColumn("prev",
        lag(col("vocab_types"), 1).over(Window.orderBy("permille")))
      // first point has no predecessor: report 1000 (flat), keeping the
      // column non-null so both engines ship the identical BIGINT column
      .withColumn("growth_permille",
        coalesce(expr("(vocab_types * 1000) div prev"), lit(1000L)))
      .drop("prev")
      .orderBy("permille")
  }
  val vocabGrowthCurveSql: String =
    s"""WITH fs AS (
       |  SELECT ${h60Duck("w")} AS t, min(doc_id) AS first_seen
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |lat AS (
       |  SELECT p AS permille, (n_docs * p) // 1000 AS docs_prefix
       |  FROM (SELECT max(doc_id) + 1 AS n_docs FROM documents),
       |       (SELECT CAST(unnest([${GrowthPermilles.mkString(", ")}]) AS BIGINT) AS p)),
       |curve AS (
       |  SELECT permille, docs_prefix,
       |         CAST(count(*) FILTER (first_seen < docs_prefix) AS BIGINT)
       |           AS vocab_types
       |  FROM fs, lat GROUP BY 1, 2)
       |SELECT permille, docs_prefix, vocab_types,
       |       COALESCE((vocab_types * 1000) // lag(vocab_types, 1)
       |         OVER (ORDER BY permille), 1000) AS growth_permille
       |FROM curve ORDER BY permille""".stripMargin

  // ---------------------------------------------------------------------
  // 15. source_ngram_specificity — domain-signature bigram mining
  // ---------------------------------------------------------------------

  /** Signatures kept per source / minimum in-source count. */
  private val SpecTopK = 5
  private val SpecMinCnt = 2L

  /** Per-source DISTINCTIVE bigrams — domain fingerprints: each
    * source's top bigrams ordered by (sdf ASC, cnt DESC) — rare across
    * sources first, frequent in-source second — the artifact a
    * curation stack reads to characterize an unknown domain or build
    * source classifiers. (A product score cnt·idf was rejected at
    * design time: a corpus-wide stopgram's raw count drowns the idf
    * term; the lexicographic order makes cross-source rarity
    * non-negotiable.) The sf* sources share one synthetic
    * vocabulary (organic sdf ≈ S — no distinctive grams exist, the
    * corpus-limits note on [[langIdNgram]] applies), so each source is
    * audited WITH one injected marker doc (`marker <source>_sig`
    * repeated — the established stand-in practice, stated honestly):
    * the machinery must rank each source's own marker bigram first
    * with sdf = 1, which the spec pins.
    *
    * Scale shape: ONE corpus pass collapses to the (source, gram)
    * count relation (map-combinable; grams ship as strings only
    * because they ARE the output); the cross-source df is a second
    * vocab-shaped aggregate joined back at vocab size (AQE-owned);
    * the [[SpecMinCnt]] pre-filter runs BEFORE the ranking window, and
    * the window partitions by source over the per-source gram
    * AGGREGATE — sub-linear in the corpus by Heaps, never
    * corpus-sized (the tfidf_topk argument one level up). */
  val sourceNgramSpecificity: Q = (spark, dir) => {
    val base = Tables.documents(spark, dir).select("source", "text")
    val markers = base.select("source").distinct()
      .withColumn("text", expr(
        "concat_ws(' ', transform(sequence(1, 3), i -> concat('marker ', source, '_sig')))"))
    val grams = base.unionByName(markers)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("gram"))
    // sdf as a WINDOW over the cnt relation, not a groupBy + join-back
    // (r21): cnt is unpersisted and fed BOTH the sdf aggregate and the
    // join, so the (source, gram) count subtree computed twice and the
    // join added a broadcast job. The window rides the same gram-keyed
    // exchange the aggregate needed, each gram partition is ≤ S rows
    // (bounded by the source count at any corpus size), and the values
    // are identical by construction: sdf = rows per gram in cnt either
    // way. Interleaved min-of-5 at sf0.1: 1.28 → 0.96 s (med 1.33 →
    // 1.10). A fanout on the corpus scan was also interleaved and
    // REJECTED (1.03 → 1.75 s: the extra exchange + 32-way task spread
    // costs more than the 2-task tokenize stage it parallelizes).
    //
    // specificity ORDER, not a score: rarest-across-sources first
    // (sdf asc), in-source frequency second — a product score would
    // let a corpus-wide stopgram's raw count drown the idf term, the
    // exact failure the synthetic shared vocabulary would hit
    grams.groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= SpecMinCnt)
      .withColumn("sdf", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("sdf"), col("cnt").desc, col("gram"))))
      .filter(col("rank") <= SpecTopK)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("gram"), col("cnt"), col("sdf"))
      .orderBy("source", "rank")
  }
  val sourceNgramSpecificitySql: String =
    s"""WITH u AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT source,
       |         array_to_string(list_transform(range(1, 4),
       |           i -> 'marker ' || source || '_sig'), ' ') AS text
       |  FROM (SELECT DISTINCT source FROM documents)),
       |grams AS (
       |  SELECT source, unnest(list_transform(range(1, len(ws)),
       |           i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) AS gram
       |  FROM (SELECT source, string_split(text, ' ') AS ws FROM u)
       |  WHERE len(ws) >= 2),
       |cnt AS (
       |  SELECT source, gram, CAST(count(*) AS BIGINT) AS cnt
       |  FROM grams GROUP BY 1, 2 HAVING count(*) >= $SpecMinCnt),
       |sdf AS (SELECT gram, CAST(count(*) AS BIGINT) AS sdf FROM cnt GROUP BY 1)
       |SELECT source, rank, gram, cnt, sdf FROM (
       |  SELECT c.source, c.gram, c.cnt, d.sdf,
       |         CAST(row_number() OVER (PARTITION BY c.source
       |           ORDER BY d.sdf, c.cnt DESC, c.gram) AS BIGINT) AS rank
       |  FROM cnt c JOIN sdf d USING (gram))
       |WHERE rank <= $SpecTopK ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X103 topic_lexicon_assign — lexicon-match domain tagging
  // ---------------------------------------------------------------------

  /** topic → lexicon (DISJOINT word sets; corpus-derived stand-ins, the
    * [[Markers]] caveat applies — real campaigns plug in curated
    * domain lexicons). Tie-break is THIS listed order. */
  private val TopicLex: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("table", "row", "column", "join", "key", "query"),
    "streaming" -> Seq("stream", "batch", "window", "group"),
    "perf" -> Seq("fast", "slow", "big", "small"),
    "storage" -> Seq("scan", "sort", "hash", "merge"))

  /** Lexicon-based domain tagging — the keyword-lexicon classifier a
    * curation pipeline runs when it needs corpus-scale topic labels
    * WITHOUT a trained model (the pre-fastText stage of domain
    * balancing; the same shape as a blocklist or a PII-lexicon pass):
    * count each topic's lexicon hits per document, assign the argmax
    * topic (ties to the earlier [[TopicLex]] entry, docs with zero
    * lexicon mass to 'none'), and report the doc's total lexicon
    * coverage in exact permille — the confidence proxy a downstream
    * mix planner thresholds on.
    *
    * Scale shape: one token explode → ONE map-combinable per-doc
    * aggregate (the K topic counters are conditional sums inside the
    * same agg — no per-topic relation, no join, no window anywhere);
    * the argmax is a row-local CASE chain over K columns. Lexicon size
    * is a compile-time constant riding codegen'd IN-lists. */
  val topicLexiconAssign: Q = (spark, dir) => {
    val cnt = TopicLex.zipWithIndex.map { case ((_, ws), i) =>
      sum(when(col("tk").isin(ws: _*), 1L).otherwise(0L)).as(s"c$i")
    }
    val agg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .groupBy("doc_id")
      .agg(cnt.head, cnt.tail :+ count(lit(1)).as("n_tokens"): _*)
    agg
      .withColumn("hits", greatest(col("c0"), col("c1"), col("c2"), col("c3")))
      .withColumn("topic", expr(
        s"""CASE WHEN hits = 0 THEN 'none'
           |     WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 THEN '${TopicLex(0)._1}'
           |     WHEN c1 >= c2 AND c1 >= c3 THEN '${TopicLex(1)._1}'
           |     WHEN c2 >= c3 THEN '${TopicLex(2)._1}'
           |     ELSE '${TopicLex(3)._1}' END""".stripMargin))
      .select(col("doc_id"), col("topic"), col("hits"),
        expr("((c0 + c1 + c2 + c3) * 1000) div n_tokens").as("lex_permille"))
      .orderBy("doc_id")
  }
  val topicLexiconAssignSql: String = {
    val sums = TopicLex.zipWithIndex.map { case ((_, ws), i) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(sum(CASE WHEN tk IN ($inList) THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(",\n       |         ")
    s"""WITH agg AS (
       |  SELECT doc_id,
       |         $sums,
       |         CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
       |  GROUP BY doc_id)
       |SELECT doc_id,
       |       CASE WHEN greatest(c0, c1, c2, c3) = 0 THEN 'none'
       |            WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 THEN '${TopicLex(0)._1}'
       |            WHEN c1 >= c2 AND c1 >= c3 THEN '${TopicLex(1)._1}'
       |            WHEN c2 >= c3 THEN '${TopicLex(2)._1}'
       |            ELSE '${TopicLex(3)._1}' END AS topic,
       |       greatest(c0, c1, c2, c3) AS hits,
       |       CAST(((c0 + c1 + c2 + c3) * 1000) // n_tokens AS BIGINT)
       |         AS lex_permille
       |FROM agg
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X123 stopword_discovery — corpus-derived stopword candidates
  // ---------------------------------------------------------------------

  /** Minimum per-source document-frequency share (per-mille) for a
    * stopword candidate. */
  private val StopDfPermille = 300L

  /** Corpus-DERIVED stopword discovery: terms whose document frequency
    * is high in EVERY source (min over sources of per-source df share
    * ≥ [[StopDfPermille]]‰, present in all sources) — the empirical
    * replacement for a hand-curated stopword list, and the input the
    * tf-idf / BM25 family's vocabulary pruning actually wants. A term
    * frequent in one source but absent elsewhere is a DOMAIN term (the
    * exact complement of `source_ngram_specificity`'s output), not a
    * stopword; the min-share gate is what separates the two.
    *
    * Scale shape: explode to DISTINCT (doc, term) pairs (shingle-family
    * row volume), collapse to the (source, term) df relation — bounded
    * by vocabulary × sources, not corpus — then a broadcast join of the
    * per-source doc totals and ONE term-keyed min/count agg. No
    * windows, no corpus-sized join. */
  val stopwordDiscovery: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
    val totals = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val df = d.select(col("doc_id"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("df"))
    // |sources| attached as a broadcast 1-row relation (the scalar-attach
    // pattern) — a .count() here would run a job at construction time
    val allSources = d.agg(countDistinct(col("source")).as("all_sources"))
    df.join(broadcast(totals), "source")
      .withColumn("share", expr("(df * 1000) div n_docs"))
      .groupBy("term")
      .agg(min(col("share")).as("min_share_permille"),
        count(lit(1)).as("n_sources"), sum(col("df")).as("df_total"))
      .crossJoin(broadcast(allSources))
      .filter(col("n_sources") === col("all_sources") &&
        col("min_share_permille") >= StopDfPermille)
      .select("term", "min_share_permille", "df_total")
      .orderBy(desc("min_share_permille"), col("term"))
  }
  val stopwordDiscoverySql: String =
    s"""WITH totals AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |df AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS df FROM (
       |    SELECT DISTINCT doc_id, source,
       |           unnest(string_split(text, ' ')) AS term
       |    FROM documents)
       |  GROUP BY 1, 2),
       |shares AS (
       |  SELECT term, min((df * 1000) // n_docs) AS min_share_permille,
       |         count(*) AS n_sources, sum(df) AS df_total
       |  FROM df JOIN totals USING (source)
       |  GROUP BY 1)
       |SELECT term, CAST(min_share_permille AS BIGINT) AS min_share_permille,
       |       CAST(df_total AS BIGINT) AS df_total
       |FROM shares
       |WHERE n_sources = (SELECT count(*) FROM totals)
       |  AND min_share_permille >= $StopDfPermille
       |ORDER BY min_share_permille DESC, term""".stripMargin

  val queries: Map[String, Query] = Map(
    "stopword_discovery" -> Query(stopwordDiscovery, stopwordDiscoverySql),
    "source_ngram_specificity" -> Query(sourceNgramSpecificity, sourceNgramSpecificitySql),
    "vocab_growth_curve" -> Query(vocabGrowthCurve, vocabGrowthCurveSql),
    "top_terms_per_lang" -> Query(topTermsPerLang, topTermsPerLangSql),
    "top_terms_agg" -> Query(topTermsAgg, topTermsAggSql),
    "lang_id_ngram" -> Query(langIdNgram, langIdNgramSql),
    "lang_id_confusion" -> Query(langIdConfusion, langIdConfusionSql),
    "text_quality_score" -> Query(textQualityScore, textQualityScoreSql),
    "token_count" -> Query(tokenCount, tokenCountSql),
    "doc_fingerprint" -> Query(docFingerprint, docFingerprintSql),
    "text_stats" -> Query(textStats, textStatsSql),
    "bigram_lm_score" -> Query(bigramLmScore, bigramLmScoreSql),
    "fluency_buckets" -> Query(fluencyBuckets, fluencyBucketsSql),
    "winnow_fingerprints" -> Query(winnowFingerprints, winnowFingerprintsSql),
    "ngram_novelty" -> Query(ngramNovelty, ngramNoveltySql),
    "collocation_lift" -> Query(collocationLift, collocationLiftSql),
    "topic_lexicon_assign" -> Query(topicLexiconAssign, topicLexiconAssignSql),
  )
}
