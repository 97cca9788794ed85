package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60, h60Duck, h60Sql}

/** The last mile of a training-data pipeline, after dedup/quality/
  * sampling: balance the language mix and pack documents into
  * fixed-length training sequences. Both are deterministic relational
  * passes — no RNG, no driver loops — so the same corpus always yields
  * the same mix and the same packing on any engine or partitioning.
  */
object TrainingMix {
  // ---------------------------------------------------------------------
  // 1. temperature_resample — multilingual temperature-balanced sampling
  // ---------------------------------------------------------------------

  /** Temperature-balanced language resampling at τ = 0.5 (the
    * multilingual-mix practice from the XLM-R line of work: sampling
    * probability ∝ (n_l/N)^τ flattens the language distribution without
    * discarding the head entirely). With p_l ∝ (n_l)^(τ-1) = 1/√n_l,
    * normalized so the RAREST language keeps everything, the per-mille
    * keep threshold is floor(1000·√(n_min/n_l)). The keep decision is
    * the same content-keyed hash coin as `stratified_sample` —
    * reproducible across runs, engines, and partitionings.
    *
    * Scale shape: one tiny per-language count aggregate (bounded by
    * language cardinality, broadcast back by stats), a one-row global
    * min, then a pure row-parallel filter. √ and ÷ are IEEE
    * correctly-rounded so the threshold is bit-identical cross-engine,
    * and the floor-to-integer comparison removes even last-ulp risk.
    */
  val temperatureResample: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    docs.join(counts, "lang").crossJoin(nMin)
      .withColumn("threshold",
        floor(lit(1000) * sqrt(col("n_min").cast("double") / col("n_lang"))).cast("long"))
      .withColumn("bucket",
        pmod(h60(concat(lit("resample:"), col("doc_id"))), lit(1000)))
      .filter(col("bucket") < col("threshold"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"),
        col("threshold"))
      .orderBy("doc_id")
  }
  val temperatureResampleSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
       |m AS (SELECT min(n_lang) AS n_min FROM c),
       |t AS (SELECT lang,
       |             CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE) / n_lang)) AS BIGINT) AS threshold
       |      FROM c CROSS JOIN m)
       |SELECT doc_id, lang, bucket, threshold FROM (
       |  SELECT d.doc_id, d.lang,
       |         ${h60Duck("'resample:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
       |         t.threshold
       |  FROM documents d JOIN t USING (lang))
       |WHERE bucket < threshold ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 2. sequence_pack — concat-and-chunk packing into training sequences
  // ---------------------------------------------------------------------

  private[operators] val SeqLen = 256   // tokens per training sequence (testdata-sized)
  private[operators] val NumShards = 8  // independent packing lanes; ∝ corpus/executor at scale

  /** Pack documents into fixed-[[SeqLen]] training sequences by the
    * concat-then-chunk contract: within a shard, documents concatenate
    * in doc_id order and the stream is chunked every SeqLen tokens; each
    * doc reports the sequence its first token lands in and its offset
    * there. Pure integer math end-to-end.
    *
    * Scale shape: packing needs a running token total — a prefix sum —
    * which would serialize on a single global window. Sharding by a
    * deterministic doc_id hash bounds every window partition
    * (corpus/NumShards docs), makes the lanes independent and
    * embarrassingly parallel, and keeps the result reproducible: one
    * shuffle on shard + an in-partition sort, the same cost shape as
    * the W3 time-repair window. NumShards scales with the corpus (set
    * it so a shard's docs fit one task); sequences are globally
    * identified by (shard, seq_in_shard).
    */
  val sequencePack: Q = (spark, dir) => {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("shard", pmod(h60(concat(lit("shard:"), col("doc_id"))), lit(NumShards)))
      .withColumn("tok_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("n_tokens"),
        expr(s"tok_start div $SeqLen").as("seq_in_shard"),
        pmod(col("tok_start"), lit(SeqLen)).cast("long").as("tok_offset"))
      .orderBy("doc_id")
  }
  val sequencePackSql: String =
    s"""SELECT doc_id, shard, n_tokens,
       |       CAST(tok_start // $SeqLen AS BIGINT) AS seq_in_shard,
       |       CAST(tok_start % $SeqLen AS BIGINT) AS tok_offset
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
       |  FROM (
       |    SELECT doc_id,
       |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |           ${h60Duck("'shard:' || CAST(doc_id AS VARCHAR)")} % $NumShards AS shard
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 3. dataset_split — deterministic train/val/test assignment
  // ---------------------------------------------------------------------

  private val TrainPerMille = 980
  private val ValPerMille = 990 // val = [980, 990), test = [990, 1000)

  /** Held-out split assignment: every doc lands in train/val/test by the
    * same content-keyed hash coin as the samplers (`split:<doc_id>`), so
    * the split is stable across runs, engines, partitionings, AND corpus
    * growth — a doc keeps its split when the corpus around it changes,
    * which is the property that keeps eval sets uncontaminated across
    * recrawls (a `rand()` or row-number split has none of these). Pure
    * projection: no shuffle, row-parallel at any scale.
    */
  val datasetSplit: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("bucket", pmod(h60(concat(lit("split:"), col("doc_id"))), lit(1000)))
      .withColumn("split",
        when(col("bucket") < TrainPerMille, "train")
          .when(col("bucket") < ValPerMille, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"), col("split"))
      .orderBy("doc_id")
  val datasetSplitSql: String =
    s"""SELECT doc_id, bucket,
       |       CASE WHEN bucket < $TrainPerMille THEN 'train'
       |            WHEN bucket < $ValPerMille THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |         ${h60Duck("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X58 split_contamination — cross-split leakage audit
  // ---------------------------------------------------------------------

  /** Leakage gram width. */
  private val LeakN = 5

  /** Synthesized-leak marker: appended to every 50th train doc AND to
    * every even-id val/test doc, so the eval docs provably share the
    * phrase's interior [[LeakN]]-grams with the train split — the
    * planted positive that keeps this audit's oracle check exercised
    * (the sf* docs are unique word soup, so without it the query is
    * vacuously 0 = 0 rows; `benchmark_contamination` and `pii_redact`
    * synthesize their positives the same way). 10 distinct words →
    * 10 − [[LeakN]] + 1 − [[LeakN]] + 1 = 6 interior grams per marked
    * doc; boundary grams mix each doc's unique tail and stay unleaked,
    * so unmarked eval docs keep exercising the negative path. */
  private[operators] val LeakMarker =
    "sphinx quartz vexing jackdaws blitz fjord glyph nymph wyvern zephyr"

  /** The leak-planted corpus (doc_id, bucket, text): the split bucket
    * rides along because every downstream predicate is on it. */
  private def leakedCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", pmod(h60(concat(lit("split:"), col("doc_id"))), lit(1000)))
      .withColumn("text",
        when((col("bucket") < TrainPerMille && col("doc_id") % 50 === 0) ||
             (col("bucket") >= TrainPerMille && col("doc_id") % 2 === 0),
          concat(col("text"), lit(" " + LeakMarker)))
          .otherwise(col("text")))
  private def leakedCorpusDuck: String =
    s"""SELECT doc_id, bucket,
       |       CASE WHEN (bucket < $TrainPerMille AND doc_id % 50 = 0)
       |              OR (bucket >= $TrainPerMille AND doc_id % 2 = 0)
       |            THEN text || ' $LeakMarker' ELSE text END AS text
       |FROM (SELECT doc_id, text,
       |             ${h60Duck("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
       |      FROM documents)""".stripMargin

  /** Cross-split contamination audit: for every val/test document,
    * count its distinct [[LeakN]]-gram hashes that ALSO occur anywhere
    * in the train split — the decontamination report run before an
    * eval split ships (same failure class `benchmark_contamination`
    * probes for an EXTERNAL benchmark, here against the pipeline's own
    * [[datasetSplit]] boundary, same hash-coin rule so the two queries
    * agree on membership by construction). Only leaked docs emit rows:
    * the report is the work list for eval-set scrubbing.
    *
    * Scale shape: grams are row-local [[graft.expressions.WindowHash]]
    * hashes (8-byte keys, engines share the definition — identity
    * comparison, no strings shuffled); the train gram set is a
    * distinct hash aggregate (map-side combinable) and the probe is a
    * LEFT SEMI equi-join keyed on the hash — eval side is ~2% of the
    * corpus by the split rule, train-gram dedup is the only
    * corpus-scale shuffle, and nothing is ever pairwise. */
  val splitContamination: Q = (spark, dir) => {
    // Per-doc distinct gram hashes over the leak-planted corpus, with
    // the split bucket still attached; the split test stays a pushable
    // predicate on `bucket` (a deterministic projection of doc_id),
    // which is the load-bearing trick below.
    val grams = leakedCorpus(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= LeakN)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(expr(s"graft_winhash(words, $LeakN)"))).as("g"))
    // Aggregate SPLIT BY SIDE instead of r11's one-pass collect_list
    // fold: ~98% of gram rows are train-split and carried list state
    // they never contributed to, forcing the whole corpus through an
    // ObjectHashAggregate. Here the train side is a plain `distinct` on
    // the 8-byte gram hash — primitive state, map-side combinable (the
    // partial pass collapses within-partition repeats before the
    // shuffle) — and the eval side (~2% of docs by the split rule) is a
    // LEFT SEMI probe against it. The eval side is a SECOND reference
    // to the gram derivation, but its bucket predicate pushes below the
    // explode, so the "re-derivation" tokenizes only the 2% eval docs —
    // one full corpus pass total, with the heavy aggregate reduced to a
    // distinct on longs. (The r10 two-pass shape this supersedes
    // re-derived ALL grams twice; the r11 fold fixed the passes but
    // paid object-state aggregation for every row.)
    //
    // Join spelling: INNER with the distinct train side on the left,
    // NOT a left-semi probe from the eval side — a left-semi can only
    // broadcast its right (build) side, which here is the corpus-scale
    // train set, so it is forced through a full shuffle join at any
    // size. The inner form is equivalent (train grams are distinct, so
    // each eval row matches at most once) and leaves the strategy
    // AQE-owned: at harness scale stats show the eval side tiny and the
    // planner broadcasts it; at 100 TB (eval = 2% of corpus — NOT
    // broadcastable) the same plan falls back to a shuffled join whose
    // skew is bounded by gram df. No hints, no scale cliff.
    val trainGrams = grams.filter(col("bucket") < TrainPerMille).select("g").distinct()
    trainGrams
      .join(grams.filter(col("bucket") >= TrainPerMille), Seq("g"))
      .groupBy(col("doc_id"),
        when(col("bucket") < ValPerMille, "val").otherwise("test").as("split"))
      .agg(count(lit(1)).as("n_leaked"))
      .orderBy("doc_id")
  }
  val splitContaminationSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CASE WHEN bucket < $TrainPerMille THEN 'train'
       |              WHEN bucket < $ValPerMille THEN 'val'
       |              ELSE 'test' END AS split,
       |         string_split(text, ' ') AS words
       |  FROM ($leakedCorpusDuck)),
       |g AS (
       |  SELECT doc_id, split, unnest(list_distinct(list_transform(
       |    range(1, len(words) - ${LeakN - 2}),
       |    i -> ${h60Duck(s"array_to_string(words[i:i+${LeakN - 1}], ' ')")}))) AS g
       |  FROM d WHERE len(words) >= $LeakN),
       |t AS (SELECT DISTINCT g FROM g WHERE split = 'train')
       |SELECT doc_id, split, count(*) AS n_leaked
       |FROM g JOIN t USING (g)
       |WHERE split <> 'train'
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // 4. epoch_upsample — per-source multi-epoch oversampling
  // ---------------------------------------------------------------------

  /** Per-source epoch oversampling: high-quality sources are repeated
    * for multiple epochs in the final mix (the standard lever for
    * weighting curated sources above raw crawl without discarding
    * anything). Each doc is replicated `epochs(source)` times with an
    * epoch index, so downstream packing/shuffling sees distinct rows.
    * The testdata weight rule derives 1–3 epochs from the source id
    * (`suffix % 3 + 1`); production swaps in a curated weight table.
    *
    * Scale shape: a generator explode — output grows only by the mix's
    * mean epoch factor (a design constant, ~2×), with no shuffle and no
    * join; the weight lookup is a projection. Replication happens where
    * the rows already are.
    */
  val epochUpsample: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("epochs",
        (expr("CAST(substring(source, 4) AS BIGINT)") % 3 + 1).as("epochs"))
      .select(col("doc_id"), col("source"), col("epochs"),
        explode(expr("sequence(1L, epochs)")).as("epoch"))
      .orderBy("doc_id", "epoch")
  val epochUpsampleSql: String =
    s"""SELECT doc_id, source, epochs, unnest(range(1, epochs + 1)) AS epoch
       |FROM (
       |  SELECT doc_id, source, CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS epochs
       |  FROM documents)
       |ORDER BY doc_id, epoch""".stripMargin

  // ---------------------------------------------------------------------
  // 5. global_row_index — contiguous global ids without a global sort
  // ---------------------------------------------------------------------

  /** Number of index buckets. At scale this is O(cluster parallelism);
    * 64 > the 32 shuffle partitions so the harness exercises real
    * multi-bucket offsets. */
  val IndexBuckets = 64L

  /** Assign every doc a contiguous 0-based global index in doc_id
    * order — the "training example id" pass that runs after the mix is
    * frozen (shard manifests, resumable data loaders, and eval-set
    * bookkeeping all want dense stable ids).
    *
    * The naive spelling — `row_number() OVER (ORDER BY doc_id)` — is a
    * single-partition window: the entire corpus serializes through one
    * task, the textbook scale-killer. This is the two-phase formulation
    * instead:
    *   1. bucket each row by id range (pure projection off a one-row
    *      min/max broadcast — deterministic, unlike sampling-based
    *      `repartitionByRange` boundaries);
    *   2. rank WITHIN each bucket (windows bounded at ~N/IndexBuckets
    *      rows, all buckets in parallel);
    *   3. prefix-sum bucket counts into offsets — the only global
    *      window in the plan runs over the IndexBuckets-row count
    *      relation, not the corpus — and broadcast-join them back:
    *      global_index = bucket_offset + within_bucket_rank - 1.
    * The result is bit-identical to the naive spelling (the oracle IS
    * the naive spelling) for any bucket count ≥ 1; only the parallelism
    * changes. Long math throughout: ids up to ~2^57 stay exact in the
    * bucket formula at IndexBuckets = 64.
    */
  /** Range-bucket assignment off a one-row min/max broadcast. `div`,
    * not `/`: Column `/` is true division (long/long → DOUBLE), which
    * would give ~one fractional bucket value per doc and grow the
    * offsets relation to corpus size. Integer division keeps the bucket
    * a LONG in [0, IndexBuckets) and the math exact (ids up to ~2^57
    * before the *IndexBuckets product can overflow). */
  private[graft] def rangeBucketed(docs: DataFrame): DataFrame = {
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    docs.crossJoin(bounds)
      .withColumn("bucket",
        expr(s"(doc_id - lo) * $IndexBuckets div (hi - lo + 1)"))
      .drop("lo", "hi")
  }

  // ---------------------------------------------------------------------
  // X144 global_shuffle_order — deterministic corpus shuffle, sort-free
  // ---------------------------------------------------------------------

  /** Shuffle-key buckets: bounded window partitions for the two-phase
    * rank (uniform hash ⇒ ~N/64 rows per bucket, no skew possible). */
  private val ShuffleBuckets = 64L

  /** The offline training shuffle: a DETERMINISTIC uniform pseudo-random
    * permutation of the corpus — the pass every pipeline runs before
    * epoch streaming so batch composition decorrelates from ingest
    * order, made reproducible (resume a run, re-derive any shard) by
    * keying the randomness on CONTENT (`h60('shuffle:' || doc_id)`)
    * instead of an engine RNG. The permutation index is computed
    * WITHOUT a global sort: rank within each of the [[ShuffleBuckets]]
    * key buckets (parallel, bounded, skew-free by hash uniformity) +
    * prefix-summed bucket offsets — the [[globalRowIndex]] two-phase
    * trick with the shuffle key as the order. The oracle deliberately
    * spells the naive global sort (`row_number() OVER (ORDER BY key)`)
    * — the independent implementation the sort-free plan must equal.
    *
    * Scale shape: one row-local key projection, one window over ~N/64-
    * row partitions, offsets over the 64-row count relation (counted
    * global-window allowlist), broadcast join back. At 100 TB the
    * bucket count scales with the cluster (any value works — the spec
    * pins permutation validity, not the bucket count). */
  val globalShuffleOrder: Q = (spark, dir) => {
    // bucket = the key's HIGH bits (a RANGE of k, so bucket order is a
    // prefix of the global (k, doc_id) order — a modulus would
    // interleave ranges and break the offset arithmetic); h60 is
    // uniform on [0, 2^60), so ranges are balanced without sampling
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
      .withColumn("k", h60(concat(lit("shuffle:"), col("doc_id"))))
      .withColumn("bucket", expr(s"k div ${(1L << 60) / ShuffleBuckets}"))
    val ranked = docs.withColumn("rn",
      row_number().over(Window.partitionBy("bucket").orderBy("k", "doc_id")))
    val offsets = docs.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    ranked.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("source"),
        (col("off") + col("rn") - 1).cast("long").as("shuffle_idx"))
      .orderBy("doc_id")
  }
  val globalShuffleOrderSql: String =
    s"""SELECT doc_id, source,
       |       CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT)
       |         AS shuffle_idx
       |FROM (
       |  SELECT doc_id, source,
       |         ${h60Duck("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS k
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  val globalRowIndex: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val bucketed = rangeBucketed(docs)
    val ranked = bucketed.withColumn("rn",
      row_number().over(Window.partitionBy("bucket").orderBy("doc_id")))
    val offsets = bucketed.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    ranked.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("lang"),
        (col("off") + col("rn") - 1).cast("long").as("global_index"))
      .orderBy("doc_id")
  }
  val globalRowIndexSql: String =
    """SELECT doc_id, lang,
      |       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_index
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X60 dsir_select — hashed-ngram importance-weighted data selection
  // ---------------------------------------------------------------------

  /** Feature-hash bucket count for the importance model. 8192 buckets
    * is the accuracy/size knob from the paper's hashed-ngram ablation
    * (they use 10⁴; any power of two works) — the model stays a
    * broadcastable constant-size table at EVERY corpus scale. */
  val DsirBuckets = 8192L
  /** Integer importance scale (millionths, matching the repo's other
    * fixed-point scores). */
  private val DsirScale = 1000000L
  /** Target-domain predicate: the high-resource language slice stands
    * in for the curated target corpus a production campaign feeds (the
    * paper targets Wikipedia+books; same plan, different filter). */
  private val DsirTargetLang = "en"

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by how much its hashed-bigram distribution looks like a target
    * domain's, keep the above-average docs. Hashed n-gram features
    * make the model CONSTANT-SIZE (buckets, not vocabulary), so the
    * same plan selects against a 100 TB crawl.
    *
    * Numeric policy: the paper's log-likelihood-ratio weight needs
    * `ln` (not IEEE-correctly-rounded — the engine's standing reason to
    * avoid it, see [[graft.operators.Indexing.tfidfTopk]]); the score
    * here is the mean SCALED RATIO instead: per gram occurrence in
    * bucket b, r_b = ((t_b+1)·10⁶) div (r_b+1) (add-one smoothing, ∈
    * [0, 10⁶] since target ⊆ raw), per doc importance = (Σ r_b) div
    * n_grams — exact integers end to end, monotone in target affinity,
    * deterministic across engines. The keep threshold is the
    * gram-weighted corpus mean ratio, computed on the MODEL side
    * (8192 rows — no second corpus pass, no global sort): keep ⟺
    * importance ≥ gram_mean. Headroom: Σ r_b·count_b runs in
    * DECIMAL(38,0)/HUGEINT (10⁶ scale × 10¹⁵ grams passes 2⁶³);
    * per-doc Σ r_b ≤ 10⁶ · 2²¹ stays in LONG by the pos bound.
    *
    * Plan: one bigram-hash explode (row-local [[graft.expressions
    * .WindowHash]] kernel + `% buckets`) feeds the model aggregate
    * (map-combinable, ≤ [[DsirBuckets]] groups — target and raw counts
    * in ONE pass via a conditional sum) and the scoring join as two
    * subtrees — [[TextAnalysis.bigramLmScore]]'s audited shape, with the model side
    * broadcast by AQE at any corpus size because its row count is a
    * constant. */
  /** Per-doc hashed-bigram bucket rows (doc_id, lang, b) over any
    * (doc_id, lang, text) relation — the shared feature extractor. */
  private[graft] def dsirGrams(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr(s"transform(graft_winhash(words, 2), h -> h % $DsirBuckets)")).as("b"))

  /** The trained importance model over `dir`'s corpus: the per-bucket
    * ratio relation (b, rb) and its 1-row gram-weighted mean — shared
    * by the batch selector and the frozen-model streaming scorer
    * ([[graft.streaming.DsirStream]]). */
  private[graft] def dsirModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // campaign sessions stage the two model relations (≤ DsirBuckets
    // rows + 1 row) so the family's consumers train the hashed-gram
    // model once; solo the plans stay lazy subtrees (pass-through)
    val (model, mean) = dsirModelOf(Tables.documents(spark, dir))
    (graft.Tables.stageIf(spark, s"dsir_model:$dir")(model),
      graft.Tables.stageIf(spark, s"dsir_mean:$dir")(mean))
  }

  /** The same trained model over an explicit docs relation — the form
    * composed pipelines train on an upstream-filtered corpus
    * ([[mixPipeline]] trains on its budget survivors). */
  private[graft] def dsirModelOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val model = dsirGrams(docs).groupBy("b")
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("t"))
      .select(col("b"), col("r"),
        expr(s"((t + 1L) * $DsirScale) div (r + 1L)").as("rb"))
    val mean = model.agg(expr(
      """CAST(sum(CAST(rb AS DECIMAL(38,0)) * r)
        |     div sum(CAST(r AS DECIMAL(38,0))) AS BIGINT)""".stripMargin).as("gram_mean"))
    (model.select("b", "rb"), mean)
  }

  /** Score `docs` against a trained (model, mean) pair — per-doc
    * importance + keep flag, unordered (callers order or stream). The
    * scoring plan touches only the DOCS being scored: model and mean
    * are whatever relations the caller hands in (the batch query's
    * lazy subtrees, or a streaming scorer's frozen persisted table).
    *
    * The model join is LEFT: a streaming doc can hash grams into
    * buckets the frozen reference never populated (the sf-sized
    * reference fills only a fraction of the 8192-bucket space), and
    * the add-one smoothing already defines that case — t = r = 0 →
    * rb = (0+1)·10⁶ div (0+1) = 10⁶, the no-evidence neutral ratio —
    * so absent buckets coalesce to [[DsirScale]] instead of silently
    * dropping the gram (an inner join would lose whole docs whose
    * grams are all out-of-model, and bias everyone else's mean). In
    * the batch query the left join degenerates to the inner one: the
    * model is trained on the corpus being scored, so every probed
    * bucket exists. */
  private[graft] def dsirScore(docs: DataFrame, model: DataFrame, mean: DataFrame): DataFrame =
    dsirGrams(docs).join(model, Seq("b"), "left_outer")
      .withColumn("rb", coalesce(col("rb"), lit(DsirScale)))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_grams"), sum(col("rb")).as("rsum"))
      .crossJoin(mean)
      .select(col("doc_id"), col("lang"), col("n_grams"),
        expr("rsum div n_grams").as("importance"), col("gram_mean"),
        (expr("rsum div n_grams") >= col("gram_mean")).as("keep"))

  val dsirSelect: Q = (spark, dir) => {
    val (model, mean) = dsirModel(spark, dir)
    dsirScore(Tables.documents(spark, dir), model, mean).orderBy("doc_id")
  }
  val dsirSelectSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(words)),
       |           i -> ${h60Duck("array_to_string(words[i:i+1], ' ')")} % $DsirBuckets)) AS b
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
       |  WHERE len(words) >= 2),
       |model AS (
       |  SELECT b, count(*) AS r,
       |         sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS t
       |  FROM grams GROUP BY b),
       |rb AS (SELECT b, r, CAST(((t + 1) * $DsirScale) // (r + 1) AS BIGINT) AS rb
       |       FROM model),
       |m AS (SELECT CAST(sum(CAST(rb AS HUGEINT) * r) // sum(CAST(r AS HUGEINT)) AS BIGINT)
       |             AS gram_mean FROM rb)
       |SELECT doc_id, lang, n_grams, importance, gram_mean,
       |       importance >= gram_mean AS keep
       |FROM (
       |  SELECT g.doc_id, g.lang, count(*) AS n_grams,
       |         CAST(sum(rb.rb) // count(*) AS BIGINT) AS importance
       |  FROM grams g JOIN rb USING (b)
       |  GROUP BY g.doc_id, g.lang) CROSS JOIN m
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X64 doremi_weights — excess-loss domain reweighting (DoReMi-style)
  // ---------------------------------------------------------------------

  /** Uniform smoothing floor added to every domain's excess score
    * (micro units) — the exact-integer stand-in for DoReMi's ε-mix
    * with the uniform distribution: it keeps every domain's weight
    * strictly positive (no domain is starved outright) and makes the
    * normalizing total provably non-zero even when every domain sits
    * at or above the corpus baseline. */
  private val DoremiSmooth = 10000L

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * upweight the domains the proxy model finds HARD — excess loss per
    * domain, normalized into mixture weights. The proxy loss here is
    * the corpus-trained bigram LM the fluency family already runs
    * ([[TextAnalysis.bigramLmScore]]): a domain whose mean fluency
    * falls below the corpus baseline reads as high-excess-loss (the
    * model explains it poorly) and gets weighted up, exactly the
    * paper's Group-DRO signal with fluency deficit standing in for
    * per-domain log-loss.
    *
    * Numeric policy: the paper's exponentiated-gradient update needs
    * exp/softmax (outside IEEE's correctly-rounded set — the standing
    * `ln` objection, [[Indexing.tfidfTopk]]); the weights here are the
    * LINEAR normalization of the clipped excess plus the
    * [[DoremiSmooth]] uniform floor: per source s,
    * excess_s = max(0, baseline − fluency_s) with every term an exact
    * integer in micro units (fluency_s = (Σ doc fluency) div n_docs,
    * baseline = the doc-weighted corpus mean), weight_permille_s =
    * ((excess_s + smooth)·1000) div Σ(excess + smooth) — monotone in
    * excess loss, deterministic across engines, Σ weights ≤ 1000 with
    * floor rounding. Headroom: Σ fluency ≤ n_docs·10⁶ keeps LONG exact
    * past 10¹² docs per source.
    *
    * Scale shape: the audited fluency relation (one corpus bigram
    * pass) → a source-cardinality aggregate (domains ≪ docs at any
    * scale, map-combinable) → global-window scalar attaches over the
    * domain relation (one single partition of ≤ domains rows — see the
    * measurement note on [[doremiFromFluency]]) → a row-parallel
    * projection. Nothing past the fluency pass is corpus-sized. */
  /** Core on an explicit per-doc (source, fluency) relation so specs
    * can feed constructed loss profiles (uniform corpus → uniform
    * weights, one hard domain → that domain weighted up) alongside the
    * registered query's oracle check. */
  private[operators] def doremiFromFluency(fl: DataFrame): DataFrame =
    // the baseline and normalizing total are GLOBAL-WINDOW sums over the
    // domain-cardinality aggregate, not 1-row agg + crossJoin attaches:
    // each crossJoin re-derived the per-source subtree (exchange reuse
    // kept the corpus pass single, but every reused exchange still
    // spawns its own AQE stage cascade), where the windows run inside
    // the one domain-sized relation — a single partition of ≤ domains
    // rows, trivially bounded at any corpus scale. Interleaved min-of-5
    // at sf0.1 (r16): 1.233 s windows vs 1.735 crossJoins (median
    // 1.334 vs 1.808, faster in all five rounds). Same exact-integer
    // arithmetic; orderBy(source) pins the oracle order.
    fl.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("fluency")).as("fsum"))
      .select(col("source"), col("n_docs"), col("fsum"),
        expr("fsum div n_docs").as("fluency"))
      .withColumn("baseline", expr("sum(fsum) OVER () div sum(n_docs) OVER ()"))
      .withColumn("excess", greatest(lit(0L), col("baseline") - col("fluency")))
      .withColumn("weight_permille",
        expr(s"((excess + $DoremiSmooth) * 1000L) div (sum(excess + $DoremiSmooth) OVER ())"))
      .select("source", "n_docs", "fluency", "excess", "weight_permille")
      .orderBy("source")

  val doremiWeights: Q = (spark, dir) =>
    doremiFromFluency(TextAnalysis.bigramFluency(spark, dir))
  val doremiWeightsSql: String =
    s"""WITH bi AS (
       |  SELECT doc_id, source, p.w1 AS w1, p.w2 AS w2 FROM (
       |    SELECT doc_id, source, unnest(list_transform(range(1, len(words)),
       |             i -> {'w1': words[i], 'w2': words[i+1]})) AS p
       |    FROM (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents)
       |    WHERE len(words) >= 2)),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       |p AS (
       |  SELECT bi.doc_id, bi.source, (c2.c2 * 1000000) // c1.c1 AS p
       |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
       |f AS (
       |  SELECT doc_id, source, CAST(sum(p) // count(*) AS BIGINT) AS fluency
       |  FROM p GROUP BY doc_id, source),
       |s AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(fluency) AS BIGINT) AS fsum
       |  FROM f GROUP BY source),
       |b AS (SELECT CAST(sum(fsum) // sum(n_docs) AS BIGINT) AS baseline FROM s),
       |e AS (
       |  SELECT source, n_docs,
       |         CAST(fsum // n_docs AS BIGINT) AS fluency,
       |         CAST(greatest(0, baseline - fsum // n_docs) AS BIGINT) AS excess
       |  FROM s CROSS JOIN b),
       |t AS (SELECT CAST(sum(excess + $DoremiSmooth) AS BIGINT) AS score_total FROM e)
       |SELECT source, n_docs, fluency, excess,
       |       CAST(((excess + $DoremiSmooth) * 1000) // score_total AS BIGINT)
       |         AS weight_permille
       |FROM e CROSS JOIN t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // X66 length_bucket_batches — padding-efficient bucketed batching
  // ---------------------------------------------------------------------

  /** Linear length-bucket width (tokens) and cap: bucket =
    * min(n_tokens div 64, 15) — exact integers, no float log. Linear
    * buckets are the testdata-sized stand-in for the usual
    * power-of-two boundaries; the cap folds the long tail into one
    * bucket (its pad waste is the report's own evidence if the tail
    * deserves finer buckets). */
  private val BucketTokens = 64L
  private val MaxBucket = 15L
  /** Docs per batch, and independent batching lanes per bucket
    * (sequence_pack's sharding trick: lanes bound every window
    * partition at corpus/(buckets·lanes) docs and scale out with the
    * corpus — ∝ corpus/executor at production scale). */
  private val BatchDocs = 16L
  private val BatchShards = 8

  /** Padding-efficient BUCKETED BATCHING (the fairseq/tensor2tensor
    * dynamic-batching pass): group similar-length documents into
    * fixed-count batches so each batch pads only to its own max
    * length, not the corpus max, and report the padding bill per
    * batch — the report a pipeline runs before committing a batching
    * policy (Σ pad_tokens over batches IS the wasted compute; the
    * alternative — random batching — pays the corpus-max on every
    * batch). Deterministic end to end: bucket and shard are pure
    * functions of the doc, batch formation is a (bucket, shard)-lane
    * row_number over the doc_id order, so the same corpus always
    * yields the same batches on any engine or partitioning.
    *
    * Output per batch: lane keys, doc count, the batch's sequence
    * length (its max doc length), and the exact pad bill
    * pad_tokens = n_docs·max − Σ n_tokens. All exact integers.
    *
    * Scale shape: ONE exchange on (bucket, shard) carries the
    * row_number window AND the (bucket, shard, batch) aggregate that
    * follows (batch is a function of the window's own partition
    * keys — no second shuffle, the source_token_budget
    * shared-partitioning design); lanes bound the window partitions,
    * and the report is batch-cardinality (corpus div 16), never
    * wider than the input. */
  /** The per-doc lane assignment every batching report starts from:
    * documents with their token count, length bucket, lane shard, and
    * batch ordinal. One (bucket, shard) exchange carries the lane
    * window; everything downstream aggregates on the window's own
    * partition keys — no second shuffle. */
  private def batchLanes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", least(expr(s"n_tokens div $BucketTokens"), lit(MaxBucket)))
      .withColumn("shard", pmod(h60(concat(lit("bshard:"), col("doc_id"))), lit(BatchShards)).cast("long"))
      .withColumn("batch", expr(s"(row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1) div $BatchDocs"))

  /** The (bucket, shard, batch) cell relation both batching reports
    * read: per batch, its doc count, sequence length (the batch max)
    * and exact token sum. */
  private def batchCells(spark: SparkSession, dir: String): DataFrame =
    batchLanes(spark, dir)
      .groupBy("bucket", "shard", "batch")
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("seq_len"),
        sum(col("n_tokens")).as("tok_sum"))

  val lengthBucketBatches: Q = (spark, dir) =>
    batchCells(spark, dir)
      .select(col("bucket"), col("shard"), col("batch"), col("n_docs"), col("seq_len"),
        (col("n_docs") * col("seq_len") - col("tok_sum")).as("pad_tokens"))
      .orderBy("bucket", "shard", "batch")
  val lengthBucketBatchesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         least(CAST(len(string_split(text, ' ')) AS BIGINT) // $BucketTokens,
       |               $MaxBucket) AS bucket,
       |         ${h60Duck("'bshard:' || CAST(doc_id AS VARCHAR)")} % $BatchShards AS shard
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, n_tokens, bucket, shard,
       |         (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1)
       |           // $BatchDocs AS batch
       |  FROM d)
       |SELECT bucket, shard, batch, count(*) AS n_docs,
       |       CAST(max(n_tokens) AS BIGINT) AS seq_len,
       |       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_tokens
       |FROM b GROUP BY bucket, shard, batch
       |ORDER BY bucket, shard, batch""".stripMargin

  // ---------------------------------------------------------------------
  // X96 pack_efficiency_report — the padding bill of three batching policies
  // ---------------------------------------------------------------------

  /** The POLICY DECISION TABLE behind X15/X66: the exact padding bill
    * of the three ways a trainer turns documents into fixed-shape
    * batches, computed side by side on the same corpus —
    *
    *   - `pad_to_max`: naive batching, every doc padded to the corpus
    *     max length (the cost of NOT length-bucketing — each batch
    *     pays the global worst case);
    *   - `bucket_batch`: [[lengthBucketBatches]]' geometry — each
    *     batch pads only to its own max (Σ over batches of
    *     n_docs·max − Σtok);
    *   - `concat_pack`: [[sequencePack]]'s concat-then-chunk contract —
    *     only the final partial sequence pads
    *     (⌈Σtok/SeqLen⌉·SeqLen − Σtok).
    *
    * pad_tokens IS the wasted compute of the policy (padding flows
    * through every FLOP of the forward pass); util_permille is the
    * budget share doing real work. The report a pipeline runs once
    * before committing a batching policy — and the reason production
    * stacks pack: the concat row's waste is bounded by ONE sequence
    * regardless of corpus size.
    *
    * Scale shape: every number derives from the [[batchCells]] cell
    * relation — the global doc count, token mass, and max length fold
    * OVER the cells (the corpus max is some batch's max), so the
    * corpus is scanned exactly once, through X66's single (bucket,
    * shard) exchange, then one O(cells) map-combinable rollup to a
    * 1-row aggregate; the 3 policy rows explode from that single row.
    * Nothing here is a second corpus pass. */
  val packEfficiencyReport: Q = (spark, dir) =>
    batchCells(spark, dir)
      .agg(sum(col("n_docs")).as("n"), sum(col("tok_sum")).as("tok"),
        max(col("seq_len")).as("gmax"),
        sum(col("n_docs") * col("seq_len") - col("tok_sum")).as("bucket_pad"))
      .select(explode(array(
        struct(lit("bucket_batch").as("policy"), col("n").as("n_seqs"),
          col("bucket_pad").as("pad_tokens")),
        struct(lit("concat_pack").as("policy"),
          expr(s"(tok + ${SeqLen - 1}) div $SeqLen").as("n_seqs"),
          expr(s"((tok + ${SeqLen - 1}) div $SeqLen) * $SeqLen - tok").as("pad_tokens")),
        struct(lit("pad_to_max").as("policy"), col("n").as("n_seqs"),
          expr("n * gmax - tok").as("pad_tokens")))).as("p"),
        col("tok").as("total_tokens"))
      .select(col("p.policy").as("policy"), col("p.n_seqs").as("n_seqs"),
        col("total_tokens"), col("p.pad_tokens").as("pad_tokens"),
        expr("(total_tokens * 1000) div (total_tokens + p.pad_tokens)")
          .as("util_permille"))
      .orderBy("policy")
  val packEfficiencyReportSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         least(CAST(len(string_split(text, ' ')) AS BIGINT) // $BucketTokens,
       |               $MaxBucket) AS bucket,
       |         ${h60Duck("'bshard:' || CAST(doc_id AS VARCHAR)")} % $BatchShards AS shard
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, n_tokens, bucket, shard,
       |         (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1)
       |           // $BatchDocs AS batch
       |  FROM d),
       |cells AS (
       |  SELECT bucket, shard, batch, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(max(n_tokens) AS BIGINT) AS seq_len,
       |         CAST(sum(n_tokens) AS BIGINT) AS tok_sum
       |  FROM b GROUP BY 1, 2, 3),
       |t AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
       |         CAST(sum(tok_sum) AS BIGINT) AS tok,
       |         CAST(max(seq_len) AS BIGINT) AS gmax,
       |         CAST(sum(n_docs * seq_len - tok_sum) AS BIGINT) AS bucket_pad
       |  FROM cells),
       |p AS (
       |  SELECT 'bucket_batch' AS policy, n AS n_seqs, tok AS total_tokens,
       |         bucket_pad AS pad_tokens FROM t
       |  UNION ALL
       |  SELECT 'concat_pack', (tok + ${SeqLen - 1}) // $SeqLen, tok,
       |         ((tok + ${SeqLen - 1}) // $SeqLen) * $SeqLen - tok FROM t
       |  UNION ALL
       |  SELECT 'pad_to_max', n, tok, n * gmax - tok FROM t)
       |SELECT policy, CAST(n_seqs AS BIGINT) AS n_seqs, total_tokens,
       |       CAST(pad_tokens AS BIGINT) AS pad_tokens,
       |       CAST((total_tokens * 1000) // (total_tokens + pad_tokens) AS BIGINT)
       |         AS util_permille
       |FROM p ORDER BY policy""".stripMargin

  // ---------------------------------------------------------------------
  // X97 batch_mixing_report — batch composition / data-ordering audit
  // ---------------------------------------------------------------------

  /** The DATA-ORDERING audit on [[lengthBucketBatches]]' geometry: per
    * batch, how many distinct sources its ≤ 16 docs come from, rolled
    * into the diversity histogram (n_sources → batch count + corpus
    * share). Batches form in doc_id order, and doc ids correlate with
    * crawl/source order in every real corpus — so a mass of 1-source
    * batches is the source-clumped ordering that correlates gradients
    * within a step and quietly hurts SGD; a healthy shuffle reads as
    * mass in the high-diversity rows. This is the check a trainer runs
    * BEFORE paying for a full epoch-order reshuffle ([[epochUpsample]]'s
    * hash coins fix the problem; this measures whether it exists).
    *
    * Scale shape: rides [[batchLanes]]' single (bucket, shard)
    * exchange; the per-batch distinct-source set is BOUNDED by the
    * batch size (≤ 16 elements, map-combinable collect_set), the
    * histogram aggregate runs on batch-cardinality rows with ≤ 16
    * keys, and the permille share is a window over the ≤ 16-row
    * report itself (the X87 bounded-window convention). */
  val batchMixingReport: Q = (spark, dir) =>
    batchLanes(spark, dir)
      .groupBy("bucket", "shard", "batch")
      .agg(count(lit(1)).as("n_docs"),
        size(collect_set(col("source"))).cast("long").as("n_sources"))
      .groupBy("n_sources")
      .agg(count(lit(1)).as("n_batches"),
        sum(when(col("n_docs") === BatchDocs, 1L).otherwise(0L)).as("n_full"))
      .withColumn("batch_permille",
        expr("(n_batches * 1000) div (sum(n_batches) OVER ())"))
      .select("n_sources", "n_batches", "n_full", "batch_permille")
      .orderBy("n_sources")
  val batchMixingReportSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         least(CAST(len(string_split(text, ' ')) AS BIGINT) // $BucketTokens,
       |               $MaxBucket) AS bucket,
       |         ${h60Duck("'bshard:' || CAST(doc_id AS VARCHAR)")} % $BatchShards AS shard
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, source, bucket, shard,
       |         (row_number() OVER (PARTITION BY bucket, shard ORDER BY doc_id) - 1)
       |           // $BatchDocs AS batch
       |  FROM d),
       |c AS (
       |  SELECT bucket, shard, batch, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |  FROM b GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT n_sources, CAST(count(*) AS BIGINT) AS n_batches,
       |         CAST(sum(CASE WHEN n_docs = $BatchDocs THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_full
       |  FROM c GROUP BY n_sources)
       |SELECT n_sources, n_batches, n_full,
       |       CAST((n_batches * 1000) // (sum(n_batches) OVER ()) AS BIGINT)
       |         AS batch_permille
       |FROM r ORDER BY n_sources""".stripMargin

  // ---------------------------------------------------------------------
  // X68 mix_pipeline — the composed mix-side campaign with funnel audit
  // ---------------------------------------------------------------------

  /** The domain-gate stage over a (doc_id, source, lang, text, n_chars,
    * n_tok) relation: per-source corpus stats as unbounded windows,
    * then the row-local verdict `g1`. A NULL source is its own window
    * partition, so its rows are kept and gated together like any other
    * source's. */
  private[operators] def gateStage(d: DataFrame): DataFrame = {
    val srcW = Window.partitionBy("source")
    d.withColumn("src_docs", count(lit(1)).over(srcW))
      .withColumn("src_short", sum(
        when(col("n_chars") < Curation.ShortChars, 1L).otherwise(0L)).over(srcW))
      .withColumn("g1",
        col("src_short") * Curation.GateDen <= col("src_docs") * Curation.GateNum)
  }

  /** The composed MIX-SIDE campaign — the three curation/mix stages a
    * data-mix team runs in sequence, composed end-to-end with the
    * funnel report every stage review meeting actually looks at:
    *
    *   1. DOMAIN GATE ([[Curation.sourceQualityGate]]'s rule): drop
    *      whole sources whose short-doc share exceeds 30%;
    *   2. TOKEN BUDGET ([[Curation.sourceTokenBudget]]'s rule, applied
    *      to the gate's survivors): each surviving source spends 6/10
    *      of its (surviving) token mass longest-first;
    *   3. DSIR SELECT ([[dsirSelect]]'s rule, model trained on the
    *      budget's survivors — each stage sees the world its
    *      predecessor left): keep docs at or above the gram-weighted
    *      mean importance. Docs with < 2 words have no bigram features
    *      and drop here by construction.
    *
    * Output: the per-(source, lang) FUNNEL — corpus docs, survivors of
    * each stage, and the final selected token mass. Compact
    * (domains × languages rows), exact integers, and the composition
    * is auditable: n0 ≥ n1 ≥ n2 ≥ n3 per row by construction.
    *
    * Scale shape: stage flags ride ONE source-partitioned exchange
    * (the budget windows, with non-gated docs contributing 0 to the
    * conditional running sum — subset windows without a second
    * shuffle); the DSIR stage reuses the constant-size-model machinery
    * on the filtered relation; the funnel is one (source, lang)
    * aggregate after a doc-keyed left join of the selection verdicts.
    * Nothing pairwise, nothing corpus-global but the stages' own
    * audited exchanges.
    *
    * Two relations ARE persisted (r16, interleaved min-of-5 at sf0.1
    * against the unpersisted r15 spelling — 1.443 s vs 1.663 min,
    * 1.470 vs 1.715 median):
    *  - the budget relation `b` — consumed by the DSIR stage AND the
    *    funnel aggregate, which otherwise re-ran the scan + gate-stats
    *    join + budget windows end to end;
    *  - the survivor GRAM relation — the model aggregate and the
    *    scoring join both explode it, and sharing one materialization
    *    also lets the gram-weighted mean ride the model relation as a
    *    global window (bucket-cardinality partition) instead of a
    *    1-row crossJoin whose subtree re-aggregated the grams.
    * Both caches are corpus-bounded rows (docs; grams ≈ tokens) —
    * at 100 TB the same two relations are the campaign's stage tables
    * (docs/SCALE.md), materialized to storage rather than memory.
    * The model join is INNER here (the fused model is trained on
    * exactly the gram relation being scored, so every probed bucket
    * exists by construction); [[dsirScore]] keeps the left join for
    * callers scoring foreign docs against a frozen model. */
  val mixPipeline: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    // gate stats AS WINDOWS on the same source-partitioned exchange the
    // budget windows already need (r20 restructure, interleaved
    // min-of-6 at sf0.1: 0.856 min / 1.221 med vs 1.118 / 1.545 for
    // the r16 groupBy + broadcast-join spelling — the agg/join subtree
    // cost ~3 AQE stages of driver constants while computing numbers
    // the window exchange already had in hand). Unbounded
    // source-partition frames for the corpus stats, then g1 derives
    // row-locally, then the budget/spend windows stack on the SAME
    // exchange (Spark re-sorts within partitions for the ordered
    // frame — no second shuffle).
    val spendW = Window.partitionBy("source")
      .orderBy(col("n_tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gatedTok = when(col("g1"), col("n_tok")).otherwise(lit(0L))
    val b = gateStage(d)
      .withColumn("budget",
        expr(s"(sum(CASE WHEN g1 THEN n_tok ELSE 0 END) OVER (PARTITION BY source)" +
          s" * ${Curation.BudgetNum}) div ${Curation.BudgetDen}"))
      .withColumn("spent", coalesce(sum(gatedTok).over(spendW), lit(0L)))
      .withColumn("keep2", col("g1") && col("spent") < col("budget"))
      .persist()
    val survivors = b.filter(col("keep2"))
    // stage 3 funnel numbers WITHOUT a doc-keyed verdict join back onto
    // the corpus: `source` and `n_tok` ride the scoring aggregate's key
    // (both functionally dependent on doc_id — zero extra shuffle, the
    // bigramFluency trick), so the selection verdict aggregates
    // straight to (source, lang) and the funnel becomes two
    // domain-cardinality relations joined at domain size. The previous
    // spelling shuffled the corpus AND the verdicts by doc_id just to
    // recover columns the aggregate could have carried.
    val grams = survivors.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        explode(expr(s"transform(graft_winhash(words, 2), h -> h % $DsirBuckets)")).as("b"))
      .persist()
    val model = grams.groupBy("b")
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("t"))
      .select(col("b"), col("r"),
        expr(s"((t + 1L) * $DsirScale) div (r + 1L)").as("rb"))
      // the gram-weighted mean as a global window over the ≤ DsirBuckets
      // model rows — same DECIMAL(38,0) arithmetic as dsirModelOf's agg
      .withColumn("gram_mean", expr(
        """CAST(sum(CAST(rb AS DECIMAL(38,0)) * r) OVER ()
          |     div sum(CAST(r AS DECIMAL(38,0))) OVER () AS BIGINT)""".stripMargin))
    val stage3 = grams.join(model.select("b", "rb", "gram_mean"), Seq("b"))
      .groupBy("doc_id", "lang", "source", "n_tok")
      .agg(count(lit(1)).as("n_grams"), sum(col("rb")).as("rsum"),
        max(col("gram_mean")).as("gram_mean"))
      .filter(expr("rsum div n_grams") >= col("gram_mean"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n3_selected"), sum(col("n_tok")).as("tok_selected"))
    b.groupBy("source", "lang")
      .agg(count(lit(1)).as("n0_docs"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("n1_gated"),
        sum(when(col("keep2"), 1L).otherwise(0L)).as("n2_budgeted"))
      .join(stage3, Seq("source", "lang"), "left_outer")
      .select(col("source"), col("lang"), col("n0_docs"), col("n1_gated"),
        col("n2_budgeted"),
        coalesce(col("n3_selected"), lit(0L)).as("n3_selected"),
        coalesce(col("tok_selected"), lit(0L)).as("tok_selected"))
      .orderBy("source", "lang")
  }
  val mixPipelineSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, lang, text, n_chars,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |s AS (
       |  SELECT source, count(*) AS src_docs,
       |         sum(CASE WHEN n_chars < ${Curation.ShortChars} THEN 1 ELSE 0 END)
       |           AS src_short
       |  FROM d GROUP BY 1),
       |g AS (
       |  SELECT d.*, (src_short * ${Curation.GateDen} <= src_docs * ${Curation.GateNum})
       |           AS g1
       |  FROM d JOIN s USING (source)),
       |b AS (
       |  SELECT *,
       |         CAST((sum(CASE WHEN g1 THEN n_tok ELSE 0 END)
       |                 OVER (PARTITION BY source) * ${Curation.BudgetNum})
       |              // ${Curation.BudgetDen} AS BIGINT) AS budget,
       |         CAST(coalesce(sum(CASE WHEN g1 THEN n_tok ELSE 0 END)
       |                 OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0) AS BIGINT) AS spent
       |  FROM g),
       |k AS (SELECT *, g1 AND spent < budget AS keep2 FROM b),
       |grams AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(words)),
       |           i -> ${h60Duck("array_to_string(words[i:i+1], ' ')")} % $DsirBuckets)) AS bb
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS words
       |        FROM k WHERE keep2)
       |  WHERE len(words) >= 2),
       |model AS (
       |  SELECT bb, count(*) AS r,
       |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
       |  FROM grams GROUP BY bb),
       |rb AS (SELECT bb, r, CAST(((t + 1) * 1000000) // (r + 1) AS BIGINT) AS rb
       |       FROM model),
       |m AS (SELECT CAST(sum(CAST(rb AS HUGEINT) * r) // sum(CAST(r AS HUGEINT))
       |               AS BIGINT) AS gram_mean FROM rb),
       |sc AS (
       |  SELECT doc_id, (imp >= gram_mean) AS keep3 FROM (
       |    SELECT g2.doc_id, CAST(sum(rb.rb) // count(*) AS BIGINT) AS imp
       |    FROM grams g2 JOIN rb USING (bb)
       |    GROUP BY g2.doc_id) CROSS JOIN m)
       |SELECT source, lang,
       |       count(*) AS n0_docs,
       |       CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_gated,
       |       CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_budgeted,
       |       CAST(sum(CASE WHEN coalesce(keep3, false) THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n3_selected,
       |       CAST(sum(CASE WHEN coalesce(keep3, false) THEN n_tok ELSE 0 END) AS BIGINT)
       |         AS tok_selected
       |FROM k LEFT JOIN sc USING (doc_id)
       |GROUP BY source, lang ORDER BY source, lang""".stripMargin

  // ---------------------------------------------------------------------
  // X75 span_corruption — T5-style denoising-instance construction
  // ---------------------------------------------------------------------

  /** Per-token corruption rate (per-mille). T5 trains at 15%; the
    * geometry below (independent token coins whose RUNS become spans)
    * trades the paper's mean-span-3 Poisson draw for a fully
    * deterministic, engine-reproducible mask — the structure
    * (sentinel-compacted input, sentinel-prefixed target spans) is the
    * paper's. */
  private val MaskPermille = 150

  /** Span-corruption instance construction (Raffel et al. 2020, T5
    * §3.1.4): mask a deterministic subset of each doc's tokens, then
    * emit the denoising pair geometry — the INPUT keeps unmasked
    * tokens with each masked RUN collapsed to one sentinel, the TARGET
    * is each run's tokens prefixed by its sentinel. The mask coin is
    * content-keyed (`h60('mask:' || doc_id || ':' || pos)`), so the
    * same corpus yields the same instances on any engine, run, or
    * partitioning — the property that makes a 100 TB pretraining set
    * resumable and auditable (a `rand()` mask is neither). Consecutive
    * masked tokens merge into one span exactly as T5's sentinel
    * compaction does.
    *
    * Output is the instance GEOMETRY plus content fingerprints
    * (`h60` of the constructed input/target strings) rather than the
    * strings themselves — integer-exact for the oracle hash while
    * still pinning the full construction byte-for-byte; a production
    * writer emits the strings from the identical expressions.
    *
    * Scale shape: pure projection — per-row array algebra over the
    * token list (mask array built once per row and multiply-referenced
    * in ONE select, so CollapseProject cannot inline it into the
    * consuming lambdas — the LambdaInvariantSpec rule); no explode, no
    * join, no shuffle but the output sort. Row-parallel at any corpus
    * size. */
  val spanCorruption: Q = (spark, dir) =>
    // fanout: the sf-sized documents file is ONE scan partition and the
    // corruption is md5-per-position heavy — the cast_str_int case
    // (1.22 s committed → 0.57 s warm). Project-THEN-sort on purpose:
    // the sort-first spelling (so the range sampler wouldn't re-run
    // the md5 chain) measured WORSE (1.02 vs 0.57 warm; its profile
    // shows a ~0.5 s single-task stage consuming the sort) —
    // cast_str_int's parse-after-sort rejection replayed. Both
    // spellings must be measured per site (SortSamplingSpec's 2×
    // re-evaluation pulls the other way), never assumed.
    spanCorrupt(Tables.fanout(Tables.documents(spark, dir))).orderBy("doc_id")

  /** The corruption projection over any `(doc_id, text, …)` relation —
    * shared by the batch query and the streaming instance builder
    * ([[graft.streaming.CorruptStream]]), so batch/stream parity is by
    * shared code. Stateless and row-local: safe on any micro-batch. */
  private[graft] def spanCorrupt(docs: DataFrame): DataFrame = {
    val runStart = "element_at(m, i) AND (CASE WHEN i = 1 THEN true " +
      "ELSE NOT element_at(m, i - 1) END)"
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("m", expr(
        s"""transform(sequence(1, size(words)),
           |  i -> ${h60Sql("concat('mask:', doc_id, ':', i)")} % 1000 < $MaskPermille)""".stripMargin))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        expr("size(filter(m, x -> x))").cast("long").as("n_masked"),
        expr(
          s"""size(filter(transform(sequence(1, size(words)),
             |  i -> CASE WHEN $runStart THEN true ELSE false END), x -> x))""".stripMargin)
          .cast("long").as("n_spans"),
        h60(expr(
          s"""array_join(filter(transform(sequence(1, size(words)),
             |  i -> CASE WHEN $runStart THEN '<extra_id>'
             |            WHEN element_at(m, i) THEN CAST(NULL AS STRING)
             |            ELSE element_at(words, i) END),
             |  x -> x IS NOT NULL), ' ')""".stripMargin)).as("input_fp"),
        h60(expr(
          s"""array_join(filter(transform(sequence(1, size(words)),
             |  i -> CASE WHEN $runStart THEN concat('<extra_id> ', element_at(words, i))
             |            WHEN element_at(m, i) THEN element_at(words, i)
             |            ELSE CAST(NULL AS STRING) END),
             |  x -> x IS NOT NULL), ' ')""".stripMargin)).as("target_fp"))
  }
  val spanCorruptionSql: String = {
    val coin = h60Duck("'mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    val runStart = "m[i] AND (CASE WHEN i = 1 THEN true ELSE NOT m[i - 1] END)"
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |msk AS (
       |  SELECT doc_id, words,
       |         list_transform(range(1, len(words) + 1),
       |           i -> $coin % 1000 < $MaskPermille) AS m
       |  FROM w)
       |SELECT doc_id,
       |       CAST(len(words) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(m, x -> x)) AS BIGINT) AS n_masked,
       |       CAST(len(list_filter(list_transform(range(1, len(words) + 1),
       |         i -> CASE WHEN $runStart THEN true ELSE false END), x -> x))
       |         AS BIGINT) AS n_spans,
       |       ${h60Duck(
      // COALESCE: DuckDB's array_to_string of an EMPTY list is NULL
      // where Spark's array_join is '' (an all-masked or zero-mask doc)
      s"""COALESCE(array_to_string(list_filter(list_transform(range(1, len(words) + 1),
         |         i -> CASE WHEN $runStart THEN '<extra_id>'
         |                   WHEN m[i] THEN NULL
         |                   ELSE words[i] END), x -> x IS NOT NULL), ' '), '')""".stripMargin)} AS input_fp,
       |       ${h60Duck(
      s"""COALESCE(array_to_string(list_filter(list_transform(range(1, len(words) + 1),
         |         i -> CASE WHEN $runStart THEN '<extra_id> ' || words[i]
         |                   WHEN m[i] THEN words[i]
         |                   ELSE NULL END), x -> x IS NOT NULL), ' '), '')""".stripMargin)} AS target_fp
       |FROM msk ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X85 ngram_coverage_curve — train→test n-gram type coverage vs n
  // ---------------------------------------------------------------------

  /** Maximum gram width of the curve. */
  private val CurveMaxN = 4

  /** The memorization-headroom curve: for each gram width n = 1..4, the
    * per-mille share of the TEST split's distinct n-gram types that
    * also occur in the TRAIN split — the corpus-level answer to "how
    * much of eval is literally seen in training, and how fast does
    * novelty grow with n". Reads next to [[splitContamination]] (which
    * flags individual leaked DOCS at n = 5): the curve prices the
    * whole eval set's overlap as a function of n, the artifact a
    * perplexity-eval design reads before trusting its numbers. Splits
    * are [[datasetSplit]]'s own hash coin, so the curve audits the
    * exact split the pipeline ships. Type coverage (distinct grams),
    * deliberately — token-weighted coverage would let one stopword
    * dominate every n.
    *
    * Scale shape: ONE corpus pass explodes all [[CurveMaxN]] widths
    * together (bounded ≤ 4 grams per token); the (n, gram) aggregate
    * with two bool-or flags is map-side combinable and collapses
    * everything to the gram-TYPE relation (sub-corpus by Zipf/Heaps);
    * the final rollup is [[CurveMaxN]] rows. Gram keys are h60-hashed
    * 8-byte ints through the shuffle, never strings. */
  val ngramCoverageCurve: Q = (spark, dir) => {
    // fanout: the md5-per-gram explode below is the heaviest projection
    // in the registry (≈ 4 hashes/token), and the sf-sized documents
    // scan is ONE partition — unfanned it ran single-task (interleaved
    // min-of-5 at sf0.1: 2.52 s → 0.67 s fanned, faster all five;
    // docs/SCALE.md r18). At production scale the scan is
    // many-partition and fanout is a no-op by construction.
    val tagged = Tables.fanout(Tables.documents(spark, dir))
      .withColumn("split",
        when(pmod(h60(concat(lit("split:"), col("doc_id"))), lit(1000))
          < TrainPerMille, "train")
          .when(pmod(h60(concat(lit("split:"), col("doc_id"))), lit(1000))
            < ValPerMille, "val")
          .otherwise("test"))
      .filter(col("split") =!= "val")
      .withColumn("ws", split(col("text"), " "))
    val grams = tagged.select(col("split"), explode(expr(
      s"""flatten(transform(sequence(1, $CurveMaxN), n ->
         |  if(size(ws) >= n,
         |     transform(sequence(1, size(ws) - n + 1),
         |       i -> struct(CAST(n AS BIGINT) AS n,
         |                   ${h60Sql(s"array_join(slice(ws, i, n), ' ')")} AS g)),
         |     array())))""".stripMargin)).as("t"))
      .select(col("split"), col("t.n").as("n"), col("t.g").as("g"))
    grams.groupBy("n", "g")
      .agg(max(col("split") === "train").as("in_train"),
        max(col("split") === "test").as("in_test"))
      .filter(col("in_test"))
      .groupBy("n")
      .agg(count(lit(1)).as("test_types"),
        count_if(col("in_train")).as("covered_types"))
      .withColumn("coverage_permille",
        expr("(covered_types * 1000) div test_types"))
      .orderBy("n")
  }
  val ngramCoverageCurveSql: String =
    s"""WITH tagged AS (
       |  SELECT CASE WHEN bucket < $TrainPerMille THEN 'train'
       |              WHEN bucket < $ValPerMille THEN 'val'
       |              ELSE 'test' END AS split,
       |         string_split(text, ' ') AS ws
       |  FROM (SELECT text,
       |          ${h60Duck("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
       |        FROM documents)),
       |grams AS (
       |  SELECT split, t.n, t.g
       |  FROM (SELECT split, unnest(flatten(list_transform(range(1, $CurveMaxN + 1),
       |          n -> CASE WHEN len(ws) >= n THEN
       |                 list_transform(range(1, len(ws) - CAST(n AS INT) + 2),
       |                   i -> {'n': n,
       |                         'g': ${h60Duck(
                                 "array_to_string(ws[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' ')")}})
       |               ELSE [] END))) AS t
       |        FROM tagged WHERE split <> 'val')),
       |types AS (
       |  SELECT n, g,
       |         bool_or(split = 'train') AS in_train,
       |         bool_or(split = 'test') AS in_test
       |  FROM grams GROUP BY 1, 2)
       |SELECT CAST(n AS BIGINT) AS n,
       |       CAST(count(*) AS BIGINT) AS test_types,
       |       CAST(count(*) FILTER (in_train) AS BIGINT) AS covered_types,
       |       CAST((count(*) FILTER (in_train) * 1000) // count(*) AS BIGINT)
       |         AS coverage_permille
       |FROM types WHERE in_test GROUP BY n ORDER BY n""".stripMargin

  val queries: Map[String, Query] = Map(
    "span_corruption" -> Query(spanCorruption, spanCorruptionSql),
    "temperature_resample" -> Query(temperatureResample, temperatureResampleSql),
    "sequence_pack" -> Query(sequencePack, sequencePackSql),
    "dataset_split" -> Query(datasetSplit, datasetSplitSql),
    "split_contamination" -> Query(splitContamination, splitContaminationSql),
    "ngram_coverage_curve" -> Query(ngramCoverageCurve, ngramCoverageCurveSql),
    "epoch_upsample" -> Query(epochUpsample, epochUpsampleSql),
    "global_row_index" -> Query(globalRowIndex, globalRowIndexSql),
    "global_shuffle_order" -> Query(globalShuffleOrder, globalShuffleOrderSql),
    "dsir_select" -> Query(dsirSelect, dsirSelectSql),
    "doremi_weights" -> Query(doremiWeights, doremiWeightsSql),
    "length_bucket_batches" -> Query(lengthBucketBatches, lengthBucketBatchesSql),
    "pack_efficiency_report" -> Query(packEfficiencyReport, packEfficiencyReportSql),
    "batch_mixing_report" -> Query(batchMixingReport, batchMixingReportSql),
    "mix_pipeline" -> Query(mixPipeline, mixPipelineSql),
  )
}
