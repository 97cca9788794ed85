package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.{h60Sql, h60Duck}

/** Sketch summaries: tiny fixed-size aggregates of a big relation that
  * downstream stages broadcast instead of shuffling the relation
  * itself. First resident: a Bloom filter, the scale companion to the
  * J6 `anti_join_seen_set` — at 100 TB you don't shuffle the full seen
  * set against every incoming batch; you broadcast a Bloom summary,
  * drop the definite-misses for free, and reserve the exact anti-join
  * for the (rare) potential hits.
  *
  * The sketch is PORTABLE: bit positions come from the md5-derived
  * `h60` hash family, the filter is 32 lanes × 32 bits (bit 31 is the
  * highest used, so every lane stays non-negative in a BIGINT in both
  * engines), and lane assembly is a `bit_or` aggregate — map-side
  * combinable, one row out. The DuckDB oracle rebuilds the identical
  * filter from the identical arithmetic, so even the false positives
  * match bit-for-bit (they are a deterministic function of the hash
  * family, not noise).
  */
object Sketches {
  private val LaneBits = 32

  /** Bloom sizing law: m = n·ln(1/p)/ln²2 bits for n expected keys at
    * target false-positive rate p (optimal hash count k = (m/n)·ln 2).
    * Rounded up to the next power of two so `pmod(h, m)` can compile to
    * a mask at scale. The size MUST track the seen-set: a fixed m is
    * still correct when n ≫ m (false positives are re-checked by the
    * exact join downstream) but useless — every probe answers
    * maybe-true and the prefilter drops nothing. At 10⁹ seen keys and
    * p = 1%, the law gives ~1.2 GB — still a broadcast, not a shuffle.
    */
  def sizeBits(expectedN: Long, fpRate: Double): Long = {
    // misuse fails loudly: p ≥ 1 would make ln(1/p) ≤ 0 and silently
    // return the floor; m ≥ 2^62 would overflow the power-of-two round-up
    require(expectedN > 0, s"expectedN must be positive, got $expectedN")
    require(fpRate > 0.0 && fpRate < 1.0, s"fpRate must be in (0, 1), got $fpRate")
    // Long arithmetic throughout: at n = 10⁹, p = 1% the law already
    // gives ~9.6e9 bits, which Int math would silently saturate and
    // fold to the 32-bit floor
    val m = math.ceil(
      expectedN * math.log(1.0 / fpRate) / (math.log(2.0) * math.log(2.0))).toLong
    require(m < (1L << 62), s"requested filter of $m bits overflows the power-of-two round-up")
    // next power of two ≥ m
    math.max(LaneBits.toLong, java.lang.Long.highestOneBit(math.max(1L, m - 1)) * 2)
  }

  /** Testdata instantiation: the sf0.01 seen set (first-week signups)
    * is 141 users; at a ~8% target FP rate the law gives 742 → 1024
    * bits — the same constant every round's oracle has hashed against,
    * so the bit pattern stays verifiable across rounds. */
  private val ExpectedSeenN = 141L
  private val TargetFpRate = 0.08
  private val Bits = sizeBits(ExpectedSeenN, TargetFpRate).toInt // = 1024
  private val Lanes = Bits / LaneBits // 32 lanes
  private val NumHashes = 2

  /** `bloom_prefilter` — build a Bloom filter of the "known" users (the
    * [[Relational.distinctMembership]] seen set: signups in the first
    * week) and test EVERY distinct user against it. Output: one row per
    * user with the membership verdict — true members always flag
    * (no false negatives, by construction); ~6% of others flag as the
    * hash family's deterministic false positives, which the exact
    * anti-join would then re-check.
    */
  val bloomPrefilter: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val seen = ev.filter(col("event_type") === "signup" &&
        col("ts") < to_timestamp(lit("2024-01-08 00:00:00")))
      .select(col("user_id")).distinct()
    val positions = (0 until NumHashes).map(i =>
      expr(s"pmod(${h60Sql(s"concat('$i:', user_id)")}, $Bits)").as(s"pos$i"))
    val lanes = seen.select(positions: _*)
      .select(explode(array((0 until NumHashes).map(i => col(s"pos$i")): _*)).as("pos"))
      .groupBy()
      .agg(array((0 until Lanes).map(j =>
        coalesce(bit_or(when(expr(s"pos div $LaneBits") === j,
          expr(s"shiftleft(1L, CAST(pos % $LaneBits AS INT))")).otherwise(0L)), lit(0L)))
        : _*).as("lanes"))
    val users = ev.select(col("user_id")).distinct()
      .select((col("user_id") +:
        (0 until NumHashes).map(i =>
          expr(s"pmod(${h60Sql(s"concat('$i:', user_id)")}, $Bits)").as(s"pos$i"))): _*)
    val hit = (0 until NumHashes).map(i =>
      expr(s"(element_at(lanes, CAST(pos$i div $LaneBits AS INT) + 1)" +
        s" >> CAST(pos$i % $LaneBits AS INT)) & 1") === 1).reduce(_ && _)
    users.crossJoin(lanes) // one-row sketch: the broadcast the planner always picks
      .withColumn("maybe_seen", hit)
      .select(col("user_id"), col("maybe_seen"))
      .orderBy("user_id")
  }
  val bloomPrefilterSql: String = {
    def posDuck(i: Int, rel: String): String =
      s"${h60Duck(s"'$i:' || CAST($rel.user_id AS VARCHAR)")} % $Bits"
    val laneExprs = (0 until Lanes).map(j =>
      s"coalesce(bit_or(CASE WHEN pos // $LaneBits = $j THEN (CAST(1 AS BIGINT) << (pos % $LaneBits)) ELSE 0 END), 0)")
      .mkString(",\n    ")
    val posCols = (0 until NumHashes).map(i => s"${posDuck(i, "u")} AS pos$i").mkString(", ")
    val hit = (0 until NumHashes).map(i =>
      s"((lanes[(pos$i // $LaneBits) + 1] >> (pos$i % $LaneBits)) & 1) = 1").mkString(" AND ")
    s"""WITH seen AS (
       |  SELECT DISTINCT user_id FROM $EV
       |  WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-08 00:00:00'),
       |pos AS (
       |  SELECT unnest([${(0 until NumHashes).map(i => posDuck(i, "seen")).mkString(", ")}]) AS pos
       |  FROM seen),
       |bloom AS (SELECT [$laneExprs] AS lanes FROM pos),
       |u AS (SELECT DISTINCT user_id FROM $EV),
       |test AS (SELECT u.user_id, $posCols FROM u)
       |SELECT user_id, $hit AS maybe_seen
       |FROM test CROSS JOIN bloom
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X38 hll_distinct — HyperLogLog cardinality per group
  // ---------------------------------------------------------------------

  /** HLL register count m = 2^P. P = 4 keeps the harness corpora
    * (25–250 distinct per group) in the RAW-estimate regime at the gate
    * scale factors; a production campaign estimating 10⁹+ keys runs
    * P = 12–16 — only these two constants change. */
  private[graft] val HllP = 4
  private[graft] val HllM = 1 << HllP // 16 registers
  /** Rank field width: h60 is 60 bits, bucket takes P of them. */
  private val HllRankBits = 60 - HllP // 56 → rank ∈ [1, 57]
  /** α_m·m²·2^RankBits, precomputed HERE and embedded as ONE full-
    * precision literal in both engines: a decimal literal parses to the
    * same correctly-rounded double everywhere, whereas re-deriving it
    * risks each engine's literal typing rules (DuckDB reads bare
    * decimals as DECIMAL, not DOUBLE). α_16 = 0.673 per Flajolet '07. */
  private val HllNumerator: Double = 0.673 * HllM * HllM * math.pow(2.0, HllRankBits + 1)
  private val HllNumLit: String = java.lang.Double.toString(HllNumerator)

  /** (grp, bucket, m) HLL registers for a (grp, key) relation — the
    * rank projection + `max` register aggregate, shared by the batch
    * query and the streaming twin (HllStreamSpec): the same groupBy in
    * a stream keeps at most groups·m state rows however long the
    * stream runs, and `max` merges registers associatively across
    * batches exactly as it does across partitions. */
  private[graft] def hllRegisters(keyed: DataFrame): DataFrame =
    keyed
      .withColumn("h", Dedup.h60(col("key")))
      .select(col("grp"), pmod(col("h"), lit(HllM.toLong)).as("bucket"),
        expr(s"h div $HllM").as("rest"))
      .groupBy("grp", "bucket")
      .agg(max(when(col("rest") === 0, lit(HllRankBits + 1))
        .otherwise(lit(HllRankBits + 1) - length(bin(col("rest"))))).as("m"))

  /** Raw HLL estimate from a register map (missing buckets = rank 0) —
    * the Scala twin of the query's final arithmetic, for spec use. */
  private[graft] def hllEstimate(regs: Map[Long, Int]): Long = {
    val s = (0L until HllM.toLong)
      .map(b => 1L << (HllRankBits + 1 - regs.getOrElse(b, 0))).sum
    math.floor(HllNumerator / s.toDouble).toLong
  }

  /** `hll_distinct` — distinct-content cardinality per source, estimated
    * from a 16-register HyperLogLog over the exact-dupe corpus (the
    * dedup-planning probe: "how many unique docs per source" WITHOUT a
    * corpus-wide distinct — the sketch is m integers per group, merged
    * with a `max` aggregate that is map-side combinable and
    * associative, i.e. cluster-mergeable by construction).
    *
    * Portable determinism: rank = leading-zero run of the 56-bit hash
    * suffix computed as 57 - bit_length(rest) with `length(bin(x))` —
    * exact integer ops in both engines (no log2 float). The register
    * sum Σ 2^(57-M_j) is EXACT in a BIGINT (≤ 16·2^57 = 2^61), so the
    * only float op is the final constant/sum division — one correctly-
    * rounded IEEE op on identical inputs → identical doubles → identical
    * floors. The small-range linear-counting correction (m·ln(m/V)) is
    * deliberately OMITTED: `ln` is not in IEEE's correctly-rounded set,
    * so it could flip a floor between engines; the raw estimate is the
    * cross-engine-checkable core, and `n_exact` sits beside it in the
    * output precisely to expose the resulting small-n bias.
    *
    * Output: (source, n_exact, n_hll) — n_exact from an exact distinct
    * (the verifiable error bar; a real campaign would drop it).
    */
  val hllDistinct: Q = (spark, dir) => {
    val d = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val corpus = d.unionByName(
      d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + Dedup.ReKeyA).as("doc_id"), col("source"), col("text")))
    val regs = hllRegisters(corpus.select(col("source").as("grp"), col("text").as("key")))
      .withColumnRenamed("grp", "source")
    val grid = Tables.documents(spark, dir).select("source").distinct()
      .select(col("source"), explode(expr(s"sequence(0L, ${HllM - 1}L)")).as("bucket"))
    val s = grid.join(regs, Seq("source", "bucket"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
      .groupBy("source")
      .agg(sum(expr(s"shiftleft(1L, CAST(${HllRankBits + 1} - m AS INT))")).as("s"))
    val exact = corpus.groupBy("source").agg(count_distinct(md5(col("text"))).as("n_exact"))
    exact.join(s, "source")
      .select(col("source"), col("n_exact"),
        floor(lit(HllNumerator) / col("s").cast("double")).as("n_hll"))
      .orderBy("source")
  }
  val hllDistinctSql: String = {
    val rb = HllRankBits + 1
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.ReKeyA}, source, text FROM documents WHERE doc_id % 3 = 0),
       |parts AS (SELECT source, h % $HllM AS bucket, h // $HllM AS rest
       |  FROM (SELECT source, ${h60Duck("text")} AS h FROM corpus)),
       |regs AS (SELECT source, bucket,
       |    max(CASE WHEN rest = 0 THEN $rb ELSE $rb - length(bin(rest)) END) AS m
       |  FROM parts GROUP BY 1, 2),
       |grid AS (SELECT l.source AS gsource, g.range AS bucket
       |         FROM (SELECT DISTINCT source FROM documents) l CROSS JOIN range(0, $HllM) g),
       |s AS (SELECT gsource, sum(CAST(1 AS BIGINT) << ($rb - coalesce(regs.m, 0))) AS s
       |  FROM grid LEFT JOIN regs ON gsource = regs.source AND grid.bucket = regs.bucket
       |  GROUP BY 1),
       |ex AS (SELECT source, count(DISTINCT md5(text)) AS n_exact FROM corpus GROUP BY 1)
       |SELECT ex.source, ex.n_exact,
       |       CAST(floor($HllNumLit / CAST(s.s AS DOUBLE)) AS BIGINT) AS n_hll
       |FROM ex JOIN s ON ex.source = s.gsource
       |ORDER BY ex.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X39 cms_heavy_hitters — count-min sketch frequency estimation
  // ---------------------------------------------------------------------

  private[graft] val CmsDepth = 3    // independent hash rows
  private[graft] val CmsWidth = 1024 // counters per row
  /** φ heavy-hitter threshold: report terms whose CMS estimate is at
    * least 1/φ⁻¹ = 1/200 of the token stream. */
  private val CmsPhiInv = 200L

  /** (i, pos) sketch-cell coordinates for a `term` column — one row per
    * (term-occurrence, hash row). This occurrence-exploded form is the
    * STREAMING spelling (SketchStreamSpec): a stream can't pre-count its
    * whole input, so each arriving term votes its [[CmsDepth]] cells and
    * `groupBy(i, pos).count` keeps the sketch as bounded state
    * (depth·width rows however long the stream runs). The BATCH query
    * below builds the bit-identical sketch from the weighted vocab
    * relation instead — see [[cmsHeavyHitters]]. */
  private[graft] def cmsCells(tok: DataFrame): DataFrame = {
    val rows = (0 until CmsDepth).map(i =>
      struct(lit(i).as("i"),
        expr(s"pmod(${h60Sql(s"concat('$i:', term)")}, $CmsWidth)").as("pos")))
    tok.select(explode(array(rows: _*)).as("r"))
      .select(col("r.i").as("i"), col("r.pos").as("pos"))
  }

  /** `cms_heavy_hitters` — token-frequency heavy hitters from a
    * count-min sketch (Cormode–Muthukrishnan '05): the sketch is
    * [[CmsDepth]]×[[CmsWidth]] integer counters — a FIXED-size state
    * (24 KB here) that replaces the vocabulary-sized exact count at
    * query time, merges across partitions/clusters by addition (the
    * groupBy is map-side combinable), and only ever OVER-estimates.
    * Estimates are min-over-rows; the φ-threshold then yields every
    * true heavy hitter (no false negatives, CMS guarantee) plus any
    * deterministic collision-inflated extras — both engines build the
    * identical sketch from the identical h60 family, so even those
    * extras match bit-for-bit.
    *
    * Output: (term, est_count, exact_count) for terms with
    * est ≥ stream/200 — exact_count (one extra hash agg, vocabulary-
    * sized) sits beside the estimate to expose any overestimate, same
    * verifiability contract as [[hllDistinct]].
    *
    * Batch build shape: the CMS cell count is LINEAR in term weight —
    * cell(i, p) = Σ_{terms with h_i(t) = p} count(t) — so the sketch is
    * derived from the exact (term, count) vocabulary aggregate the query
    * already computes for its audit column: ONE corpus pass (the vocab
    * count), then 3 hashes per DISTINCT term with cells weighted by
    * count, and total = Σ count. Bit-identical to the occurrence-
    * exploded build ([[cmsCells]], kept as the streaming spelling) but
    * without 3 md5 evaluations per token occurrence or the two extra
    * corpus passes the r11 spelling paid (exact counts + stream total).
    * The (term, count, i, pos) relation is read three ways (sketch
    * build, estimate probe, total) from ONE shared plan subtree: the
    * corpus-pass vocab exchange canonicalizes identically under all
    * three, so ReusedExchange/AQE stage reuse runs it once — no
    * checkpoint job, no block-manager round-trip (a localCheckpoint
    * variant measured slower: it pays a separate materialization job).
    * The 3·1024-cell sketch is an explicit broadcast.
    */
  val cmsHeavyHitters: Q = (spark, dir) => {
    val tok = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    val tpos = tok.groupBy("term").agg(count(lit(1)).as("exact_count"))
      .select(col("term"), col("exact_count"),
        explode(array((0 until CmsDepth).map(i =>
          struct(lit(i).as("i"),
            expr(s"pmod(${h60Sql(s"concat('$i:', term)")}, $CmsWidth)").as("pos"))): _*))
          .as("r"))
      .select(col("term"), col("exact_count"), col("r.i").as("i"), col("r.pos").as("pos"))
    val sketch = tpos.groupBy("i", "pos").agg(sum(col("exact_count")).as("cnt"))
    val est = tpos.join(broadcast(sketch), Seq("i", "pos"))
      .groupBy("term")
      .agg(min(col("exact_count")).as("exact_count"), min(col("cnt")).as("est_count"))
    // coalesce: on an empty corpus sum() is NULL where the occurrence
    // spelling's count(*) was 0 — keep total ≡ count(*) structurally
    // (NULL would null the φ-threshold filter instead of keeping it a
    // comparison with 0)
    val total = tpos.filter(col("i") === 0)
      .agg(coalesce(sum(col("exact_count")), lit(0L)).as("n"))
    est.crossJoin(total)
      .filter(col("est_count") >= expr(s"n div $CmsPhiInv"))
      .select(col("term"), col("est_count"), col("exact_count"))
      .orderBy("term")
  }
  val cmsHeavyHittersSql: String = {
    def posDuck(rel: String): String =
      s"CAST('0x' || substr(md5(i.range || ':' || $rel.term),1,15) AS BIGINT) % $CmsWidth"
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
       |pos AS (
       |  SELECT i.range AS i, ${posDuck("tok")} AS pos
       |  FROM tok CROSS JOIN range(0, $CmsDepth) i),
       |sketch AS (SELECT i, pos, count(*) AS cnt FROM pos GROUP BY 1, 2),
       |terms AS (SELECT term, count(*) AS exact_count FROM tok GROUP BY 1),
       |tpos AS (
       |  SELECT term, exact_count, i.range AS i, ${posDuck("terms")} AS pos
       |  FROM terms CROSS JOIN range(0, $CmsDepth) i),
       |est AS (
       |  SELECT term, min(exact_count) AS exact_count, min(cnt) AS est_count
       |  FROM tpos JOIN sketch USING (i, pos) GROUP BY term),
       |total AS (SELECT count(*) AS n FROM tok)
       |SELECT term, est_count, exact_count
       |FROM est CROSS JOIN total WHERE est_count >= n // $CmsPhiInv
       |ORDER BY term""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X130 hll_weekly_rollup — mergeable-sketch rollup (weekly → monthly)
  // ---------------------------------------------------------------------

  /** The PAYOFF of sketch mergeability: per (event_type, week), HLL
    * registers over the week's distinct users; per (event_type, month),
    * the distinct-user estimate computed by MERGING the weekly
    * registers (register-wise max) — never re-touching the events. This
    * is the production pattern exact distinct counts cannot do: a
    * 100 TB warehouse persists m integers per (type, week) partition
    * and answers any coarser rollup (month, quarter, lifetime, any ad
    * hoc week set) from the stored sketches alone, because max is
    * associative/commutative/idempotent — the same property that makes
    * the register agg map-side combinable and stream-mergeable
    * (HllStreamSpec's argument, rolled up a second level). A week
    * straddling a month boundary belongs to the month of its Monday —
    * pinned identically in both engines.
    *
    * Output carries the exact distinct beside the estimate (the
    * verifiable error bar, as in `hll_distinct`) and the merged week
    * count. Same raw-estimate arithmetic as X38: exact BIGINT register
    * sum, ONE correctly-rounded float division, floor. */
  val hllWeeklyRollup: Q = (spark, dir) => {
    val rb = HllRankBits + 1
    val wk = Tables.events(spark, dir).select(col("event_type"),
      date_trunc("WEEK", col("ts")).as("week"), col("user_id"))
    val regs = wk
      .withColumn("h", Dedup.h60(col("user_id").cast("string")))
      .select(col("event_type"), col("week"),
        pmod(col("h"), lit(HllM.toLong)).as("bucket"),
        expr(s"h div $HllM").as("rest"))
      .groupBy("event_type", "week", "bucket")
      .agg(max(when(col("rest") === 0, lit(rb))
        .otherwise(lit(rb) - length(bin(col("rest"))))).as("m"))
    // month merge: register-wise max over the month's weekly sketches
    val monthRegs = regs
      .withColumn("month", date_trunc("MONTH", col("week")))
      .groupBy("event_type", "month", "bucket").agg(max("m").as("m"))
    val weeks = wk.select("event_type", "week").distinct()
      .withColumn("month", date_trunc("MONTH", col("week")))
      .groupBy("event_type", "month").agg(count(lit(1)).as("n_weeks"))
    val grid = wk
      .withColumn("month", date_trunc("MONTH", col("week")))
      .select("event_type", "month").distinct()
      .select(col("event_type"), col("month"),
        explode(expr(s"sequence(0L, ${HllM - 1}L)")).as("bucket"))
    val s = grid.join(monthRegs, Seq("event_type", "month", "bucket"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
      .groupBy("event_type", "month")
      .agg(sum(expr(s"shiftleft(1L, CAST($rb - m AS INT))")).as("s"))
    val exact = wk
      .withColumn("month", date_trunc("MONTH", col("week")))
      .groupBy("event_type", "month")
      .agg(count_distinct(col("user_id")).as("n_exact"))
    exact.join(s, Seq("event_type", "month")).join(weeks, Seq("event_type", "month"))
      .select(col("event_type"), col("month"), col("n_weeks"), col("n_exact"),
        floor(lit(HllNumerator) / col("s").cast("double")).as("n_hll"))
      .orderBy("event_type", "month")
  }
  val hllWeeklyRollupSql: String = {
    val rb = HllRankBits + 1
    s"""WITH wk AS (
       |  SELECT event_type, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week, user_id
       |  FROM events),
       |parts AS (SELECT event_type, week, h % $HllM AS bucket, h // $HllM AS rest
       |  FROM (SELECT event_type, week, ${h60Duck("CAST(user_id AS VARCHAR)")} AS h FROM wk)),
       |regs AS (SELECT event_type, week, bucket,
       |    max(CASE WHEN rest = 0 THEN $rb ELSE $rb - length(bin(rest)) END) AS m
       |  FROM parts GROUP BY 1, 2, 3),
       |mregs AS (SELECT event_type, date_trunc('month', week) AS month, bucket, max(m) AS m
       |  FROM regs GROUP BY 1, 2, 3),
       |weeks AS (SELECT event_type, date_trunc('month', week) AS month,
       |    CAST(count(*) AS BIGINT) AS n_weeks
       |  FROM (SELECT DISTINCT event_type, week FROM wk) GROUP BY 1, 2),
       |grid AS (SELECT t.event_type, t.month, g.range AS bucket
       |  FROM (SELECT DISTINCT event_type, date_trunc('month', week) AS month FROM wk) t
       |  CROSS JOIN range(0, $HllM) g),
       |s AS (SELECT grid.event_type, grid.month,
       |    sum(CAST(1 AS BIGINT) << ($rb - coalesce(mregs.m, 0))) AS s
       |  FROM grid LEFT JOIN mregs ON grid.event_type = mregs.event_type
       |    AND grid.month = mregs.month AND grid.bucket = mregs.bucket
       |  GROUP BY 1, 2),
       |ex AS (SELECT event_type, date_trunc('month', week) AS month,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM wk GROUP BY 1, 2)
       |SELECT ex.event_type, ex.month, weeks.n_weeks, ex.n_exact,
       |       CAST(floor($HllNumLit / CAST(s.s AS DOUBLE)) AS BIGINT) AS n_hll
       |FROM ex
       |JOIN s ON ex.event_type = s.event_type AND ex.month = s.month
       |JOIN weeks ON ex.event_type = weeks.event_type AND ex.month = weeks.month
       |ORDER BY ex.event_type, ex.month""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "bloom_prefilter" -> Query(bloomPrefilter, bloomPrefilterSql),
    "hll_distinct" -> Query(hllDistinct, hllDistinctSql),
    "cms_heavy_hitters" -> Query(cmsHeavyHitters, cmsHeavyHittersSql),
    "hll_weekly_rollup" -> Query(hllWeeklyRollup, hllWeeklyRollupSql),
  )
}
