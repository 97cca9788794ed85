package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60, h60Duck}

/** The composed training-data pipeline — every curation stage chained
  * into ONE registered query, the way the reference chains its chat
  * pipeline into one dataflow (scrape → parse → diff → sink:
  * scrapers/chat.py:124-171 → db/chat.py:13-26 → firestore/chat.py:39-71).
  * The individual stages are the already-oracle-checked operators; this
  * query checks their COMPOSITION: stage interfaces, end-to-end
  * determinism, and the shared-label dedup shape (cluster labels are
  * computed exactly once and the resolution joins that one relation —
  * the production shape docs/SCALE.md describes for `dedup_resolve`).
  *
  * Stages, over a corpus with synthesized exact re-crawls (every 3rd
  * doc) and near-dup re-crawls (first word dropped, every 5th doc):
  *   1. exact dedup       — hash-groupBy, keep min-id representative
  *   2. near-dup resolve  — MinHash+LSH → CC labels (ONCE) → per-cluster
  *                          keep the longest member (ties → min doc_id)
  *   3. chunk dedup       — C4-style cross-doc span removal, text rebuilt
  *   4. quality + PII     — Gopher repetition keep-filter, then e-mail/
  *                          phone redaction with audit counts
  *   5. temperature mix   — τ=0.5 per-language resample (hash coin)
  *   6. sequence pack     — sharded prefix-sum packing into SeqLen runs
  *
  * Scale shape: the three multi-consumer stage outputs are persisted —
  * the stage-1 survivors (read by the CC loop, the token counts, and
  * the resolve join), the resolve output (read 4× by chunk dedup's
  * segmentation / df count / removal / rebuild), and the quality+PII
  * output (read by the resample count and join). Each is computed once
  * and re-read from cache instead of re-running its upstream per
  * consumer — 14.8 s → 11.7 s at sf0.1 (a production campaign writes
  * these to stage tables; see docs/SCALE.md). The caches are scoped to
  * the consuming action, not this function: both harnesses (Bench,
  * Verify) run `spark.catalog.clearCache()` after each query's action
  * completes, so repeated invocations don't accumulate block-manager
  * storage. Everything downstream
  * keeps each stage's audited
  * shape: no cartesian, no corpus-wide sort, the only window is the
  * bounded per-shard prefix sum, and the one-row n_min relation is the
  * only broadcast-cross. PipelineSpec asserts the fused plan.
  */
object Pipeline {
  /** documents ∪ exact re-crawl of every 3rd ∪ near-dup re-crawl of
    * every 5th — both dedup stages get a provably exercised positive
    * path (same practice as the standalone dedup operators). */
  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    d.unionByName(
        d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + Dedup.ReKeyA).as("doc_id"), col("lang"), col("text")))
      .unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + Dedup.ReKeyB).as("doc_id"), col("lang"),
            expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }
  private val CorpusSql =
    s"""(SELECT doc_id, lang, text FROM documents
       | UNION ALL
       | SELECT doc_id + ${Dedup.ReKeyA} AS doc_id, lang, text FROM documents WHERE doc_id % 3 = 0
       | UNION ALL
       | SELECT doc_id + ${Dedup.ReKeyB} AS doc_id, lang,
       |        substr(text, strpos(text, ' ') + 1) AS text
       | FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  /** The pipeline body WITHOUT the final presentation sort — the seam
    * [[graft.operators.Layout.pipelineLayout]] composes on (r22): the
    * manifest's file assignment re-ranks by z-order windows, so the
    * corpus-wide `orderBy(doc_id)` (a RangePartitioner sampling pass +
    * full sort of the curated output) was pure waste on that path. The
    * registered query below adds the sort back — its own output
    * contract is unchanged. */
  private[operators] val corpusPipelineCore: Q = (spark, dir) => {
    // -- 1. exact dedup (min() over the identical texts of a hash group
    //       is deterministic; grouping by the 128-bit hash keeps the
    //       shuffle key fixed-width instead of full document text)
    val docs1 = corpus(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
        min(col("text")).as("text"))
      .select("doc_id", "lang", "text")
      .persist()

    // -- 2. near-dup cluster (labels computed ONCE) + resolution
    val labels = Dedup.clusterLabelsOf(docs1)
    val toks1 = docs1.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val resolved = labels.join(toks1, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max_by(struct(col("doc_id"), col("n_tokens")),
          struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("k.doc_id").as("doc_id"), col("cluster_id"), col("n_members"))
    // persisted: the chunk stage reads its input 4× (segmentation, df
    // count, removal, rebuild) — without the cache each read re-runs
    // the resolve join+agg
    val docs2 = resolved.join(docs1, "doc_id").persist()

    // -- 3. C4 span removal over the survivors
    val docs3 = docs2.drop("text")
      .join(Dedup.chunkDedupOf(docs2.select("doc_id", "text")), "doc_id")

    // -- 4a. Gopher repetition keep-filter on the cleaned text (the
    //        one-pass graft_repstats kernel — same fused loop as the
    //        standalone repetition_score query)
    val docs4 = docs3
      .withColumn("words", split(col("clean_text"), " "))
      .filter(size(col("words")) >= 2)
      .withColumn("rs", expr("graft_repstats(words)"))
      .filter(
        col("rs.top_term_n").cast("double") / size(col("words")) <= Curation.TopTermMax &&
        (col("rs.n_bigrams") - col("rs.n_distinct_bigrams")).cast("double") /
          col("rs.n_bigrams") <= Curation.DupBigramMax)
      .drop("words", "rs")

    // -- 4b. PII redaction (deterministic injected positives, audit counts)
    val docs5 = docs4
      .withColumn("ptext",
        when(col("doc_id") % 10 === 0,
          concat(col("clean_text"), lit(" reach user"), col("doc_id"),
            lit("@mail.example or 555-0142 now")))
          .otherwise(col("clean_text")))
      .withColumn("n_emails",
        size(regexp_extract_all(col("ptext"), lit(Curation.EmailPat), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("ptext"), lit(Curation.PhonePat), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("ptext"), Curation.EmailPat, "<EMAIL>"),
          Curation.PhonePat, "<PHONE>"))
      .drop("clean_text", "ptext")
      // persisted: read twice (per-lang count agg + the resample join) —
      // without the cache the chunk/repetition/regex stages run twice
      .persist()

    // -- 5. temperature resample (counts over the pipeline's OWN
    //       survivors — the mix balances what actually ships)
    val counts = docs5.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    val docs6 = docs5.join(counts, "lang").crossJoin(nMin)
      .withColumn("threshold",
        floor(lit(1000) * sqrt(col("n_min").cast("double") / col("n_lang"))).cast("long"))
      .withColumn("bucket",
        pmod(h60(concat(lit("resample:"), col("doc_id"))), lit(1000)))
      .filter(col("bucket") < col("threshold"))
      .drop("n_lang", "n_min", "threshold", "bucket")

    // -- 6. sequence packing of the final mix
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs6
      .withColumn("n_tokens", size(split(col("redacted"), " ")).cast("long"))
      .withColumn("shard",
        pmod(h60(concat(lit("shard:"), col("doc_id"))), lit(TrainingMix.NumShards)).cast("long"))
      .withColumn("tok_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("cluster_id"), col("n_members"),
        col("n_removed"), col("n_emails"), col("n_phones"), col("n_tokens"), col("shard"),
        expr(s"tok_start div ${TrainingMix.SeqLen}").as("seq_in_shard"),
        pmod(col("tok_start"), lit(TrainingMix.SeqLen)).cast("long").as("tok_offset"))
  }

  val corpusPipeline: Q = (spark, dir) =>
    corpusPipelineCore(spark, dir).orderBy("doc_id")

  /** The CTE-chained oracle: every stage's already-proven DuckDB twin,
    * composed. The CC stage reuses [[Dedup.ccCtes]] (recursive
    * transitive closure), the span stage [[Dedup.chunkCtes]]. */
  val corpusPipelineSql: String =
    s"""WITH RECURSIVE
       |corpus AS (SELECT * FROM $CorpusSql),
       |docs1 AS (
       |  SELECT min(doc_id) AS doc_id, min(lang) AS lang, min(text) AS text
       |  FROM corpus GROUP BY md5(text)),
       |${Dedup.ccCtes("docs1")},
       |p_toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM docs1),
       |resolved AS (
       |  SELECT doc_id, cluster_id, n_members FROM (
       |    SELECT l.doc_id, l.cluster_id,
       |           count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
       |           row_number() OVER (PARTITION BY l.cluster_id
       |                              ORDER BY t.n_tokens DESC, l.doc_id) AS rn
       |    FROM labels l JOIN p_toks t USING (doc_id))
       |  WHERE rn = 1),
       |docs2 AS (
       |  SELECT r.doc_id, r.cluster_id, r.n_members, d.lang, d.text
       |  FROM resolved r JOIN docs1 d USING (doc_id)),
       |${Dedup.chunkCtes("(SELECT doc_id, text FROM docs2)")},
       |docs3 AS (
       |  SELECT d.doc_id, d.cluster_id, d.n_members, d.lang,
       |         c.n_removed, c.clean_text
       |  FROM docs2 d JOIN chunked c USING (doc_id)),
       |rep AS (
       |  SELECT doc_id,
       |         CAST(len(words) AS BIGINT) AS n_tokens,
       |         CAST(list_max(list_transform(list_distinct(words),
       |           w -> len(list_filter(words, x -> x = w)))) AS BIGINT) AS top_term_n,
       |         CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       |         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
       |  FROM (
       |    SELECT doc_id, words,
       |           list_transform(range(1, len(words)),
       |             i -> words[i] || ' ' || words[i + 1]) AS bigrams
       |    FROM (SELECT doc_id, string_split(clean_text, ' ') AS words FROM docs3)
       |    WHERE len(words) >= 2)),
       |docs4 AS (
       |  SELECT d.* FROM docs3 d JOIN rep USING (doc_id)
       |  WHERE CAST(rep.top_term_n AS DOUBLE) / rep.n_tokens <= ${Curation.TopTermMax}
       |    AND CAST(rep.n_bigrams - rep.n_distinct_bigrams AS DOUBLE) / rep.n_bigrams
       |        <= ${Curation.DupBigramMax}),
       |docs5 AS (
       |  SELECT doc_id, cluster_id, n_members, lang, n_removed,
       |         CAST(len(regexp_extract_all(ptext, '${Curation.EmailPat}')) AS BIGINT) AS n_emails,
       |         CAST(len(regexp_extract_all(ptext, '${Curation.PhonePat}')) AS BIGINT) AS n_phones,
       |         regexp_replace(regexp_replace(ptext, '${Curation.EmailPat}', '<EMAIL>', 'g'),
       |                        '${Curation.PhonePat}', '<PHONE>', 'g') AS redacted
       |  FROM (
       |    SELECT *, CASE WHEN doc_id % 10 = 0
       |                THEN clean_text || ' reach user' || CAST(doc_id AS VARCHAR)
       |                     || '@mail.example or 555-0142 now'
       |                ELSE clean_text END AS ptext
       |    FROM docs4)),
       |rc AS (SELECT lang, count(*) AS n_lang FROM docs5 GROUP BY lang),
       |rm AS (SELECT min(n_lang) AS n_min FROM rc),
       |rt AS (SELECT lang,
       |              CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE) / n_lang)) AS BIGINT) AS threshold
       |       FROM rc CROSS JOIN rm),
       |docs6 AS (
       |  SELECT * FROM (
       |    SELECT d.*, ${h60Duck("'resample:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
       |           t.threshold
       |    FROM docs5 d JOIN rt t USING (lang))
       |  WHERE bucket < threshold),
       |packed AS (
       |  SELECT doc_id, lang, cluster_id, n_members, n_removed, n_emails, n_phones,
       |         n_tokens, shard,
       |         CAST(tok_start // ${TrainingMix.SeqLen} AS BIGINT) AS seq_in_shard,
       |         CAST(tok_start % ${TrainingMix.SeqLen} AS BIGINT) AS tok_offset
       |  FROM (
       |    SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
       |    FROM (
       |      SELECT doc_id, lang, cluster_id, n_members, n_removed, n_emails, n_phones,
       |             CAST(len(string_split(redacted, ' ')) AS BIGINT) AS n_tokens,
       |             ${h60Duck("'shard:' || CAST(doc_id AS VARCHAR)")} % ${TrainingMix.NumShards} AS shard
       |      FROM docs6)))
       |SELECT doc_id, lang, cluster_id, n_members, n_removed, n_emails, n_phones,
       |       n_tokens, shard, seq_in_shard, tok_offset
       |FROM packed ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // X50 incremental_pipeline — the recrawl delta driving the curation
  // stages, without re-running the pipeline over the full corpus
  // ---------------------------------------------------------------------

  /** Injected-repetition density: delta docs with doc_id ≡ [[JunkMod]]
    * (mod 40) have their text replaced by 50 copies of one word, so the
    * Gopher gate provably drops rows inside THIS query (the sf corpus
    * has no organic repetition). 2^41 % 40 = 32, so the rule only fires
    * on changed docs — added (re-keyed) ids can never hit it. */
  private val JunkMod = 4
  private val JunkText = List.fill(50)("junk").mkString(" ")

  /** The reference's defining operating mode — upsert-or-skip on
    * recrawl (db/chat.py:13-26; re-scrape merge scrapers/chat.py:158-171)
    * — lifted to the batch shape a 100 TB weekly recrawl needs: diff
    * the snapshots ONCE, then run the curation stages over the
    * changed+added docs ONLY; removed docs are retired, unchanged docs
    * are never touched past the diff.
    *
    * Stage structure:
    *   1. snapshot diff — md5 projected per side, one full-outer join
    *      on (doc_id, hash). This is the ONLY corpus-sized step, and
    *      the only place `documents` is scanned (once per snapshot
    *      side). Same diff semantics as `snapshot_diff`
    *      ([[Relational.snapshotDiff]]), but the new side carries its
    *      text forward for the delta stages.
    *   2. Gopher repetition keep-filter (delta-sized, row-local —
    *      exercised via [[JunkMod]] injection)
    *   3. PII redaction with audit counts (row-local; injected
    *      positives on doc_id % 4 = 0, which both changed and re-keyed
    *      added ids can hit)
    *   4. token accounting for the downstream packer
    *
    * Everything after the diff is a PROJECTION/FILTER over the delta —
    * no join, no window, no aggregate (plan-asserted) — so incremental
    * cost is O(|delta|), not O(|corpus|). The corpus-STATE stages
    * (near-dup CC labels, cross-doc chunk dedup, the training mix)
    * consume persisted label/state relations incrementally instead of
    * re-clustering per delta — that shape is `corpus_pipeline`'s
    * persisted-stage layout plus `dedup_resolve`'s label relation; the
    * delta query prices the per-document work.
    *
    * Output: one row per delta doc — survivors with audit columns,
    * retired (removed) docs with zeroed counts — so the sink can MERGE
    * upserts and retirements in one pass (firestore/chat.py:49-56).
    */
  /** The simulated recrawl snapshot (doc_id, new_text): 1-in-7 docs gone,
    * 1-in-10 re-keyed (URL moved), 1-in-4 edited. Shared by the batch
    * diff below and the streaming twin's spec
    * ([[graft.streaming.IncrementalStream]]), so both modes replay the
    * same crawl. */
  private[graft] def recrawlSnapshot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .select(
        when(col("doc_id") % 10 === 0, col("doc_id") + Dedup.ReKeyB)
          .otherwise(col("doc_id")).as("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), lit(" [recrawl-edit]")))
          .otherwise(col("text")).as("new_text"))

  /** The per-document delta stages — Gopher repetition gate, PII
    * redaction + audit, token accounting, retirement rows — over a diff
    * relation `(doc_id, status ∈ added|changed|removed, new_text)`.
    * Row-local by construction (no join/window/aggregate — plan-asserted
    * by IncrementalPipelineSpec), so the SAME function prices the batch
    * recrawl delta and each streaming micro-batch
    * ([[graft.streaming.IncrementalStream]] calls it per batch): parity
    * between the two modes is by shared code, not by twin
    * implementations. */
  private[graft] def deltaStages(diff: DataFrame): DataFrame = {
    val retired = diff.filter(col("status") === "removed")
      .select(col("doc_id"), lit("retired").as("status"),
        lit(0L).as("n_tokens"), lit(0L).as("n_emails"), lit(0L).as("n_phones"))
    val processed = diff.filter(col("status") =!= "removed")
      .withColumn("qtext",
        when(col("doc_id") % 40 === JunkMod, lit(JunkText)).otherwise(col("new_text")))
      .withColumn("words", split(col("qtext"), " "))
      .filter(size(col("words")) >= 2)
      // the fused graft_repstats kernel, as in Curation.repetitionScore:
      // the r13 spelling ran the interpreted aggregate fold + bigram
      // transform + array_distinct per row — measured the dominant CPU
      // of the delta stage at sf0.1 (same parity contract, same values)
      .withColumn("rs", expr("graft_repstats(words)"))
      .filter(
        col("rs.top_term_n").cast("double") / size(col("words")) <= Curation.TopTermMax &&
        (col("rs.n_bigrams") - col("rs.n_distinct_bigrams")).cast("double") /
          col("rs.n_bigrams") <= Curation.DupBigramMax)
      .withColumn("ptext",
        when(col("doc_id") % 4 === 0,
          concat(col("qtext"), lit(" reach user"), col("doc_id"),
            lit("@mail.example or 555-0142 now")))
          .otherwise(col("qtext")))
      .withColumn("n_emails",
        size(regexp_extract_all(col("ptext"), lit(Curation.EmailPat), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("ptext"), lit(Curation.PhonePat), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("ptext"), Curation.EmailPat, "<EMAIL>"),
          Curation.PhonePat, "<PHONE>"))
      .select(col("doc_id"), col("status"),
        size(split(col("redacted"), " ")).cast("long").as("n_tokens"),
        col("n_emails"), col("n_phones"))
    processed.unionByName(retired)
  }

  val incrementalPipeline: Q = (spark, dir) => {
    val old = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h_old"))
    val newSnap = recrawlSnapshot(spark, dir)
      .withColumn("h_new", md5(col("new_text")))
    // persisted: the diff is the pipeline's one corpus-sized step and
    // both output branches (processed delta + retirements) consume it;
    // without the cache each branch would re-run the full-outer join —
    // and re-scan the corpus. The cached relation is DELTA-sized (the
    // unchanged majority is filtered out before it), exactly what a
    // production recrawl would write to its stage table. Cache LIFECYCLE
    // belongs to the caller (same contract as corpusPipeline's persisted
    // stages): both harnesses clear the catalog cache after each query's
    // action; a long-lived session invoking this repeatedly must do the
    // same or accumulate one delta-sized relation per call.
    val diff = old.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select("doc_id", "status", "new_text")
      .persist()
    deltaStages(diff).orderBy("doc_id")
  }

  val incrementalPipelineSql: String =
    s"""WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents),
       |new_snap AS (
       |  SELECT CASE WHEN doc_id % 10 = 0 THEN doc_id + ${Dedup.ReKeyB} ELSE doc_id END AS doc_id,
       |         CASE WHEN doc_id % 4 = 0 THEN text || ' [recrawl-edit]' ELSE text END AS new_text
       |  FROM documents WHERE doc_id % 7 <> 0),
       |diff AS (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |         CASE WHEN o.doc_id IS NULL THEN 'added'
       |              WHEN n.doc_id IS NULL THEN 'removed'
       |              WHEN o.h_old <> md5(n.new_text) THEN 'changed' END AS status,
       |         n.new_text
       |  FROM old o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id),
       |delta AS (
       |  SELECT doc_id, status,
       |         CASE WHEN doc_id % 40 = $JunkMod
       |              THEN repeat('junk ', 49) || 'junk' ELSE new_text END AS qtext
       |  FROM diff WHERE status IN ('added', 'changed')),
       |rep AS (
       |  SELECT doc_id,
       |         CAST(len(words) AS BIGINT) AS n_words,
       |         CAST(list_max(list_transform(list_distinct(words),
       |           w -> len(list_filter(words, x -> x = w)))) AS BIGINT) AS top_term_n,
       |         CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       |         CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
       |  FROM (
       |    SELECT doc_id, words,
       |           list_transform(range(1, len(words)),
       |             i -> words[i] || ' ' || words[i + 1]) AS bigrams
       |    FROM (SELECT doc_id, string_split(qtext, ' ') AS words FROM delta)
       |    WHERE len(words) >= 2)),
       |kept AS (
       |  SELECT d.* FROM delta d JOIN rep USING (doc_id)
       |  WHERE CAST(rep.top_term_n AS DOUBLE) / rep.n_words <= ${Curation.TopTermMax}
       |    AND CAST(rep.n_bigrams - rep.n_distinct_bigrams AS DOUBLE) / rep.n_bigrams
       |        <= ${Curation.DupBigramMax}),
       |pii AS (
       |  SELECT doc_id, status,
       |         CAST(len(regexp_extract_all(ptext, '${Curation.EmailPat}')) AS BIGINT) AS n_emails,
       |         CAST(len(regexp_extract_all(ptext, '${Curation.PhonePat}')) AS BIGINT) AS n_phones,
       |         regexp_replace(regexp_replace(ptext, '${Curation.EmailPat}', '<EMAIL>', 'g'),
       |                        '${Curation.PhonePat}', '<PHONE>', 'g') AS redacted
       |  FROM (
       |    SELECT *, CASE WHEN doc_id % 4 = 0
       |                THEN qtext || ' reach user' || CAST(doc_id AS VARCHAR)
       |                     || '@mail.example or 555-0142 now'
       |                ELSE qtext END AS ptext
       |    FROM kept))
       |SELECT doc_id, status,
       |       CAST(len(string_split(redacted, ' ')) AS BIGINT) AS n_tokens,
       |       n_emails, n_phones
       |FROM pii
       |UNION ALL
       |SELECT doc_id, 'retired' AS status, CAST(0 AS BIGINT) AS n_tokens,
       |       CAST(0 AS BIGINT) AS n_emails, CAST(0 AS BIGINT) AS n_phones
       |FROM diff WHERE status = 'removed'
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "corpus_pipeline" -> Query(corpusPipeline, corpusPipelineSql),
    "incremental_pipeline" -> Query(incrementalPipeline, incrementalPipelineSql),
  )
}
