package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.h60Duck

/** Document chunking for retrieval/RAG ingestion: fixed-stride windows
  * (the standard overlap baseline) and content-defined chunking (CDC —
  * rolling-hash boundaries, the rsync/LBFS trick), which keeps chunk
  * boundaries STABLE under edits: inserting a sentence shifts every
  * fixed-stride chunk after it, but only the one CDC chunk containing
  * the edit changes — what you want when re-embedding a recrawled
  * corpus incrementally.
  */
object Chunking {
  /** Fixed chunking: window of [[ChunkSize]] tokens every [[Stride]]
    * (overlap = ChunkSize − Stride). */
  val ChunkSize = 64
  val Stride = 48

  /** CDC: boundary after token i when the h60 of the trailing
    * [[CdcWindow]]-token window ≡ 0 (mod [[CdcMod]]) — expected chunk
    * length = CdcMod tokens. */
  val CdcWindow = 4
  val CdcMod = 8

  // ---------------------------------------------------------------------
  // X36 fixed_chunks
  // ---------------------------------------------------------------------

  /** Overlapping fixed-stride chunks as a pure generator explode — the
    * chunk list is computed row-local (no shuffle, no join; the only
    * Exchange is the output sort). */
  val fixedChunks: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n", size(col("words")))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (n - 1) div $Stride),
           |  k -> named_struct(
           |    'chunk_text', array_join(slice(words, k * $Stride + 1, $ChunkSize), ' '),
           |    'n_chunk', CAST(size(slice(words, k * $Stride + 1, $ChunkSize)) AS BIGINT)))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.chunk_text").as("chunk_text"), col("col.n_chunk").as("n_chunk"))
      .orderBy("doc_id", "chunk_idx")
  val fixedChunksSql: String =
    s"""SELECT doc_id, k AS chunk_idx,
       |       array_to_string(list_slice(words, k * $Stride + 1, k * $Stride + $ChunkSize), ' ')
       |         AS chunk_text,
       |       CAST(len(list_slice(words, k * $Stride + 1, k * $Stride + $ChunkSize)) AS BIGINT)
       |         AS n_chunk
       |FROM (
       |  SELECT doc_id, words,
       |         unnest(range(0, (len(words) - 1) // $Stride + 1)) AS k
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // X37 cdc_chunks
  // ---------------------------------------------------------------------

  /** Content-defined chunks, computed ROW-LOCALLY: the rolling window
    * hashes come from the native [[graft.expressions.WindowHash]]
    * kernel (`hs[i]` = h60 of `words[i..i+W-1]`; a boundary falls
    * after token p ⟺ `hs[p-W+1] % CdcMod = 0` — the same flag the r9
    * lag-window spelling computed), boundary positions and chunk
    * [start, end] spans are per-row array algebra, and one generator
    * explode emits the chunks. This removes the r9 shape's token
    * explode (corpus×tokens rows), its per-doc window shuffle + sort,
    * AND the collect_list/array_sort rebuild aggregate — the only
    * remaining exchange is the output sort, and per-row work
    * (winhash + O(tokens) array ops) rides the small-file fanout.
    * Wall-clock at sf0.1 is job-floor-dominated and measured NEUTRAL
    * vs the window spelling (~1.4 s both); the change is for the
    * 100 TB shape, where the removed exchanges are two corpus×tokens
    * shuffles.
    * The oracle keeps the independent lag-window SQL spelling; the
    * possibly-empty final span (boundary on the last token) is
    * filtered exactly as the group-by form never emitted it. */
  val cdcChunks: Q = (spark, dir) =>
    Tables.fanout(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
      // The winhash array is the DIRECT input of transform, never a
      // lambda-body reference: an alias referenced once gets inlined by
      // CollapseProject, and an expression inside a lambda body
      // re-evaluates per ELEMENT — the r13 spelling hoisted `hs` into
      // its own column only to have the optimizer inline it back into
      // `filter`'s lambda as `element_at(graft_winhash(words), p)`,
      // re-hashing the whole doc per position: O(tokens²) md5, measured
      // 24 s of CPU at sf0.1 for a 270k-token corpus. A HOF's input
      // child is evaluated once per ROW wherever it ends up, so the
      // boundary scan stays O(tokens): hs[i] ≡ window starting at
      // token i ⇒ boundary after token p = i + W − 1 when hs[i] % M = 0
      // (empty hs for docs shorter than W subsumes the old size guard).
      .withColumn("bnd", expr(
        s"""filter(transform(graft_winhash(words, $CdcWindow),
           |         (h, i) -> IF(h % $CdcMod = 0, i + ${CdcWindow - 1}, -1)),
           |       p -> p != -1)""".stripMargin))
      .select(col("doc_id"), posexplode(expr(
        """filter(
          |  zip_with(concat(array(0), transform(bnd, b -> b + 1)),
          |           concat(bnd, array(size(words) - 1)),
          |           (s, e) -> named_struct(
          |             'chunk_text', array_join(slice(words, s + 1, e - s + 1), ' '),
          |             'n_chunk', CAST(e - s + 1 AS BIGINT))),
          |  c -> c.n_chunk > 0)""".stripMargin)).as(Seq("pos", "c")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("c.chunk_text").as("chunk_text"), col("c.n_chunk").as("n_chunk"))
      .orderBy("doc_id", "chunk_id")
  val cdcChunksSql: String = {
    val lagCols = (CdcWindow - 1 to 1 by -1)
      .map(k => s"lag(tok, $k) OVER (PARTITION BY doc_id ORDER BY pos) AS l$k")
      .mkString(", ")
    val wkey = "concat_ws(' ', " +
      ((CdcWindow - 1 to 1 by -1).map(k => s"l$k") :+ "tok").mkString(", ") + ")"
    s"""SELECT doc_id, chunk_id,
       |       string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
       |       count(*) AS n_chunk
       |FROM (
       |  SELECT doc_id, pos, tok,
       |         coalesce(CAST(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_id
       |  FROM (
       |    SELECT doc_id, pos, tok,
       |           CASE WHEN pos >= ${CdcWindow - 1}
       |                 AND ${h60Duck(wkey)} % $CdcMod = 0
       |                THEN 1 ELSE 0 END AS flag
       |    FROM (
       |      SELECT doc_id, pos, tok, $lagCols
       |      FROM (
       |        SELECT doc_id,
       |               unnest(string_split(text, ' ')) AS tok,
       |               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
       |        FROM documents))))
       |GROUP BY 1, 2
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X93 prefix_cache_report — shared-prefix (template) mining
  // ---------------------------------------------------------------------

  /** Prefix width in tokens. */
  private val PrefixK = 8

  /** Shared-prefix group report — two readings of one relation: for a
    * SERVING fleet, docs sharing their first [[PrefixK]] tokens are
    * prefix-cache hits (every member after a group's first re-uses the
    * cached KV block — `cacheable_tokens` prices the saving); for a
    * TRAINING pipeline, large prefix groups are template boilerplate
    * (shared system prompts, scraper chrome) that length- and
    * doc-level dedup both miss. The sf* corpus's organic groups come
    * from its planted exact duplicates (trivially shared prefixes);
    * the injection — every 10th doc re-entering re-keyed with an
    * appended tail — adds the case dedup CANNOT collapse (same prefix,
    * genuinely different document), exactly how a template corpus
    * presents. The spec recounts the whole histogram brute-force.
    *
    * Scale shape: ONE corpus pass hashes each doc's own prefix
    * (row-local slice + h60 — 8-byte keys through the shuffle), one
    * map-combinable count per prefix group, then a second aggregate
    * over the GROUP-SIZE histogram (≤ distinct-size rows, tiny). No
    * joins; nothing is ever pairwise. */
  val prefixCacheReport: Q = (spark, dir) => {
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val reemit = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Dedup.ReKeyA).as("doc_id"),
        concat(col("text"), lit(" rerun variant tail")).as("text"))
    base.unionByName(reemit)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("pfx", expr(
        s"${Dedup.h60Sql(s"array_join(slice(ws, 1, $PrefixK), ' ')")}"))
      .groupBy("pfx").agg(count(lit(1)).as("n"))
      .groupBy(col("n").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", expr("group_size * n_groups"))
      .withColumn("cacheable_tokens",
        expr(s"(group_size - 1) * n_groups * $PrefixK"))
      .orderBy("group_size")
  }
  val prefixCacheReportSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.ReKeyA}, text || ' rerun variant tail'
       |  FROM documents WHERE doc_id % 10 = 0),
       |grp AS (
       |  SELECT ${h60Duck(s"array_to_string(string_split(text, ' ')[1:$PrefixK], ' ')")}
       |           AS pfx,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM u GROUP BY 1)
       |SELECT n AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
       |       CAST(n * count(*) AS BIGINT) AS n_docs,
       |       CAST((n - 1) * count(*) * $PrefixK AS BIGINT) AS cacheable_tokens
       |FROM grp GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Query] = Map(
    "prefix_cache_report" -> Query(prefixCacheReport, prefixCacheReportSql),
    "fixed_chunks" -> Query(fixedChunks, fixedChunksSql),
    "cdc_chunks" -> Query(cdcChunks, cdcChunksSql),
  )
}
