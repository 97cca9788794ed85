package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup.h60Duck

/** Semantic (embedding-space) curation: k-means cluster assignment and
  * SemDeDup-style within-cluster near-duplicate pruning — the
  * embedding-side complement to the token-side dedup family in
  * [[Dedup]]. (SemDeDup: Abbas et al. 2023, arXiv:2303.09540 — cluster
  * the corpus, then search for duplicates only inside clusters, which
  * bounds the quadratic candidate set.)
  *
  * Numeric policy — everything is EXACT integer arithmetic:
  *  - embeddings are quantized once: `floor(x * 10^6)` (float→double
  *    cast and the multiply are correctly-rounded IEEE ops, floor is
  *    exact → both engines quantize identically);
  *  - k-means uses a SHIFTED copy (`+ 10^6`, non-negative): squared
  *    L2 distances are translation-invariant, and keeping division
  *    operands non-negative makes Spark's `div` (truncate) and the
  *    oracle's `//` agree by construction;
  *  - centroid updates are floor-divided integer means;
  *  - cosine thresholds compare `dot² · 100 ≥ 81 · |a|² · |b|²`
  *    (τ = 0.9) as `(10·dot)² ≥ (9·|a|²)·(9·|b|²)` in exact 128-bit
  *    integer arithmetic ([[graft.expressions.MulGe]]) — no sqrt, no
  *    doubles, no ulp risk, no per-pair decimal allocation.
  * Lloyd iterations are FIXED at [[Iters]] assignment rounds and the
  * oracle unrolls the same rounds, so the fixpoint question never
  * arises: both engines run the identical finite computation.
  */
object Semantic {
  /** Cluster count. At 100 TB this scales with N (SemDeDup used ~50k
    * clusters for LAION): the point of K is to bound per-cluster
    * pairwise work at N²/K, so K grows linearly with the corpus. */
  val K = 8

  /** Assignment rounds (assign → update → assign = 2). */
  val Iters = 2

  /** Quantization scale and non-negativity shift (|x| < 1 in unit-ish
    * embeddings → shifted values in [0, 2·10^6)). */
  val QScale = 1000000L
  val QShift = 1000000L

  /** Cosine threshold τ = 0.9 as the exact rational test
    * dot² · SimDen ≥ SimNum · |a|² · |b|² (with dot > 0). */
  val SimNum = 81L
  val SimDen = 100L

  private val Dim = 64

  // ---------------------------------------------------------------------
  // shared k-means core
  // ---------------------------------------------------------------------

  /** (vec_id, q, na) with q = shifted quantized embedding and
    * na = ‖q‖² via the codegen'd [[graft.expressions.DotProduct]]
    * kernel — precomputed once so every distance below is
    * na − 2·(q·c) + ‖c‖², one fused-loop dot per centroid instead of a
    * per-element interpreted fold. */
  private[operators] def quantShifted(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      expr(s"graft_quant(embedding, ${QScale}L, ${QShift}L)").as("q"))
      .withColumn("na", expr("graft_dot(q, q)"))

  /** Nearest-centroid assignment as a PURE PROJECTION: the K centroids
    * are driver-held constants, so each centroid's squared distance is
    * its own TOP-LEVEL column — `na − 2·graft_dot(q, <literal array>)
    * + nc` — evaluated by the kernel's generated code inside the
    * whole-stage span. (The r14 spelling folded over a centroid ARRAY
    * column inside a `transform` lambda; higher-order lambdas evaluate
    * interpreted, and the K·Dim interpreted multiplies per row were
    * what forced the small-file `fanout` exchange this shape no longer
    * needs.) No shuffle, no join, no broadcast. Ties break to the
    * lowest cid (`array_min` compares (d, cid); the K-element struct
    * array is cid-ordered, and all the arithmetic below it is codegen). */
  private def assign(vecs: DataFrame, cents: Seq[(Long, Seq[Long], Long)]): DataFrame = {
    // EMPTY corpus → zero seeds → no centroids: `array()` of struct
    // literals would be NullType and fail analysis on `best.cid`, so
    // return the (necessarily empty) result with the correct schema
    // directly — same zero rows the oracle's empty CTE chain yields
    if (cents.isEmpty)
      return vecs.select(col("vec_id"), col("q"), col("na"),
        lit(0L).as("cid"), lit(0L).as("d")).filter(lit(false))
    // Σ(q−c)² expanded to na − 2·q·c + nc: all three terms exact longs,
    // identical to the folded form
    val ds = cents.sortBy(_._1).map { case (cid, c, nc) =>
      struct(
        (col("na") - lit(2L) * expr(s"graft_dot(q, array(${c.map(v => s"${v}L").mkString(",")}))")
          + lit(nc)).as("d"),
        lit(cid).as("cid"))
    }
    vecs.withColumn("best", array_min(array(ds: _*)))
      .select(col("vec_id"), col("q"), col("na"),
        col("best.cid").as("cid"), col("best.d").as("d"))
  }

  /** Integer-mean centroid update as ONE map-side-combinable hash
    * aggregate: Dim elementwise long sums + a count per cid (the shuffle
    * carries K·(Dim+1) partial-sum slots per map task — O(1) per
    * partition however large the corpus), then floor-divide and re-pack.
    * The r12 spelling posexploded to (cid, pos, v) rows — Dim× the
    * corpus row count through two back-to-back shuffles (cid,pos then
    * cid); the fused form computes the identical floor-divided means
    * (`sum(q[i]) div count` ≡ the per-(cid,pos) `sum(col) div count`)
    * with one shuffle and no row blowup. */
  private def updateCents(asg: DataFrame): DataFrame = {
    val sums = (0 until Dim).map(i => sum(col("q").getItem(i)).as(s"s$i"))
    asg.groupBy("cid")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cid"),
        array((0 until Dim).map(i => expr(s"s$i div n")): _*).as("c"))
      .withColumn("nc", expr("graft_dot(c, c)"))
  }

  /** [[Iters]] assignment rounds over (vec_id, q, na), with centroids
    * COLLECTED to the driver between rounds — the Lloyd-loop shape
    * Spark's own MLlib KMeans uses (`runAlgorithmWithWeight` collects
    * each round's cluster sums): the per-round state is K·Dim longs, a
    * few KiB at any corpus size, so shipping it through the driver is
    * O(1) while the per-row work stays fully distributed. Each round is
    * then ONE job (the update shuffle + its K-row collect) instead of
    * the r14 broadcast-subtree cascade — seed limit job, per-round
    * broadcast materializations, and the final coalesce(1) agg each
    * scheduled separately (18 jobs/19 stages at sf0.1; the job
    * CONSTANTS, not compute, dominated the measured 1.4 s).
    *
    * Seeding: the K vectors with the smallest `md5(vec_id)` — a
    * deterministic pseudo-random draw (same trick as the hash-coin
    * samplers), cids 0..K-1 in md5 order via TakeOrdered. A corpus
    * with fewer than K vectors yields fewer seeds — and fewer
    * centroids, exactly like the oracle's `LIMIT K` (the r14 spelling
    * padded to K with null structs and corrupted degenerate inputs).
    *
    * The quantized corpus is persisted once: it feeds the seed draw,
    * each round's update aggregate, and the final assignment. */
  private def kmeans(vecs: DataFrame): DataFrame = {
    val v = vecs.persist()
    val seeds = v.withColumn("mh", md5(col("vec_id").cast("string")))
      .orderBy("mh").limit(K).select("q", "na").collect().toSeq
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Long](0), r.getLong(1)) }
    val cents = (2 to Iters).foldLeft(seeds) { (cs, _) =>
      updateCents(assign(v, cs)).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    }
    assign(v, cents)
  }

  /** The same rounds as DuckDB CTEs over `rel(vec_id, embedding)`
    * (caller opens the WITH). */
  private[operators] def kmeansCtes(rel: String): String = {
    def assignCte(dRel: String, cRel: String, d: String, a: String) =
      s"""$d AS (
         |  SELECT v.vec_id, c.cid,
         |         list_sum(list_transform(range(1, ${Dim + 1}),
         |                  i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS d
         |  FROM $dRel v CROSS JOIN $cRel c),
         |$a AS (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM $d)
         |  WHERE rn = 1)""".stripMargin
    s"""quant AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT) + $QShift) AS q
       |  FROM $rel),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
       |              AS BIGINT) AS cid, q AS c
       |  FROM quant ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $K),
       |${assignCte("quant", "c0", "d1", "a1")},
       |c1 AS (
       |  SELECT cid, list(cv ORDER BY pos) AS c FROM (
       |    SELECT a.cid, r.i AS pos, sum(v.q[r.i]) // count(*) AS cv
       |    FROM a1 a JOIN quant v USING (vec_id) CROSS JOIN range(1, ${Dim + 1}) r(i)
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |${assignCte("quant", "c1", "d2", "a2")}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // X32 kmeans_assign
  // ---------------------------------------------------------------------

  /** Final cluster assignment over `embeddings` after [[Iters]] Lloyd
    * rounds: (vec_id, cluster, dist). */
  val kmeansAssign: Q = (spark, dir) => {
    val a = kmeans(quantShifted(Tables.embeddings(spark, dir)))
    a.select(col("vec_id"), col("cid").as("cluster"),
        col("d").cast("long").as("dist"))
      .orderBy("vec_id")
  }
  val kmeansAssignSql: String =
    s"""WITH ${kmeansCtes("embeddings")}
       |SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist
       |FROM a2 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // X33 semdedup_prune
  // ---------------------------------------------------------------------

  /** Exact-copy re-ingestions of every 7th vector — the provably
    * exercised positive path, same practice as the dedup corpora. */
  private def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + Dedup.ReKeyA).as("vec_id"), col("embedding")))
  }
  private val DupCorpusSql =
    s"""(SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + ${Dedup.ReKeyA} AS vec_id, embedding FROM embeddings
       | WHERE vec_id % 7 = 0)""".stripMargin

  /** SemDeDup: cluster, then drop every vector that has an
    * earlier-id near-duplicate (cos ≥ τ) in its own cluster. The
    * pairwise search is CLUSTER-BOUNDED — the self-join key is the
    * cluster id, so candidate pairs are N²/K, never N²; K scales with
    * the corpus to hold cluster sizes constant. Cosine is the exact
    * integer test on UNSHIFTED quantized vectors (dot and norms fit a
    * LONG at 64 dims; the cross-multiplied comparison runs in
    * decimal(38,0) / int128). */
  val semdedupPrune: Q = (spark, dir) => {
    // Assignment + prune FUSED into one pass over the per-cluster
    // relation: group each cluster's members (one map-side-combinable
    // hash aggregate on cid — the query's only shuffle) and run the
    // whole pairwise prune inside [[graft.expressions.SemDedupKeep]],
    // which applies the identical exact integer τ-test per candidate
    // pair ([[graft.expressions.MulGe.compute]], shared code) with an
    // early exit per member. The r14 self-join + anti-join spelling
    // did the same N²/K candidate work but paid two corpus shuffles
    // and ~5 adaptive stages whose per-stage driver re-planning
    // dominated wall time at sf0.1 (measured: ~50% of elapsed was
    // inter-job driver gaps). Candidate volume is unchanged —
    // cluster-bounded by K scaling with the corpus, which also bounds
    // the per-group state the collect_list materializes (the SemDeDup
    // design point: cluster sizes stay ~constant as N grows).
    //
    // No persist and no stage table: the assignment has exactly ONE
    // consumer now, and the driver-collected centroids are baked into
    // the plan as literals at build time, so a cross-query memo would
    // let a cache-wiping harness's second run skip the Lloyd rounds it
    // claims to measure. At 100 TB the assignment is still worth a
    // campaign stage table written once and cid-bucketed
    // (docs/SCALE.md); this query prices the single-campaign path.
    kmeans(quantShifted(dupCorpus(spark, dir)))
      .withColumn("qu", expr(s"transform(q, x -> x - $QShift)"))
      .withColumn("nrm", expr("graft_dot(qu, qu)"))
      .groupBy("cid")
      .agg(collect_list(struct(col("vec_id"), col("qu"), col("nrm"))).as("members"))
      .select(col("cid").as("cluster"),
        explode(expr("graft_semdedup_keep(members)")).as("vec_id"))
      .select("vec_id", "cluster")
      .orderBy("vec_id")
  }
  val semdedupPruneSql: String =
    s"""WITH corpus AS (SELECT * FROM $DupCorpusSql),
       |${kmeansCtes("corpus")},
       |pr AS (
       |  SELECT a2.vec_id, a2.cid,
       |         list_transform(q, x -> x - $QShift) AS qu,
       |         list_sum(list_transform(q, x -> (x - $QShift) * (x - $QShift))) AS nrm
       |  FROM a2 JOIN quant USING (vec_id)),
       |pairs AS (
       |  SELECT b.vec_id AS bid,
       |         list_sum(list_transform(range(1, ${Dim + 1}),
       |                  i -> a.qu[i] * b.qu[i])) AS dot,
       |         a.nrm AS na, b.nrm AS nb
       |  FROM pr a JOIN pr b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |drops AS (
       |  SELECT DISTINCT bid FROM pairs
       |  WHERE dot > 0
       |    AND CAST(dot AS HUGEINT) * dot * $SimDen
       |        >= $SimNum * CAST(na AS HUGEINT) * nb)
       |SELECT vec_id, cid AS cluster FROM pr
       |WHERE vec_id NOT IN (SELECT bid FROM drops)
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // X70 pq_adc_topk — product-quantization ADC top-k
  // ---------------------------------------------------------------------

  /** PQ geometry: [[Dim]]=64 split into M=4 subspaces of 16 dims, 8
    * codes per subspace → a 4-byte code per vector (16× smaller than
    * even the int8 scalar quantization in `scalar_quantize_embeddings`).
    * Testdata-sized: production PQ runs M=8..64, K=256 — the loop and
    * the arithmetic are identical, only the constants grow. */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 8
  private[graft] val PqQueries = 10L
  private[graft] val PqTopK = 3

  /** Per-subspace sliced columns qs{m} / their norms ns{m} attached to a
    * quantized relation — shared by training, encoding, and the query-
    * side ADC tables. */
  private[operators] def withSubs(v: DataFrame): DataFrame =
    (0 until PqM).foldLeft(v) { (df, m) =>
      df.withColumn(s"qs$m", expr(s"slice(q, ${m * PqSubDim + 1}, $PqSubDim)"))
        .withColumn(s"ns$m", expr(s"graft_dot(qs$m, qs$m)"))
    }

  /** Best (d, cid) struct for subspace m against driver-held centroids —
    * [[assign]]'s literal-array distance columns on the sub-slice:
    * d = ns_m − 2·(qs_m·c) + ‖c‖², exact longs, ties to lowest cid via
    * `array_min` over (d, cid) structs. */
  private def pqBest(m: Int, cents: Seq[(Long, Seq[Long], Long)]): Column = {
    val ds = cents.sortBy(_._1).map { case (cid, c, nc) =>
      struct(
        (col(s"ns$m") - lit(2L) *
          expr(s"graft_dot(qs$m, array(${c.map(v => s"${v}L").mkString(",")}))")
          + lit(nc)).as("d"),
        lit(cid).as("cid"))
    }
    array_min(array(ds: _*))
  }

  /** Codebook TRAINING SET bound: the [[PqTrainN]] vectors with the
    * smallest md5(vec_id). PQ codebooks are trained on a bounded sample
    * in every production deployment (Jégou et al. 2011 §V trains on a
    * learning subset disjoint concerns from the indexed set; faiss's
    * `train()` takes a sample, not the corpus) — a codebook is an
    * O(M·K·SubDim) model, and its quality saturates long before the
    * sample stops fitting in one driver heap. Deterministic: the same
    * md5 draw as the seeds, so every engine replays the identical
    * sample. */
  private val PqTrainN = 512

  /** Train the [[PqM]] codebooks on the [[PqTrainN]]-vector sample:
    * ONE bounded top-N collect (map-side partial top-N — O(sample)
    * rows ever reach the driver at any corpus size), then the Lloyd
    * rounds run driver-side over the sample with the exact integer
    * arithmetic of the distributed encode path (d = ‖sub−c‖² on
    * quantized longs, assignment ties → lowest cid, update mean =
    * floor-division matching the oracle's `//`). The r17 spelling ran
    * each update round as a corpus-wide Spark job; at sf0.1 those job
    * constants were ~40% of the query (docs/SCALE.md r18 ledger), and
    * at 100 TB a full-corpus pass per Lloyd round is exactly what
    * sample training exists to avoid. Seeds: the first [[PqK]] sample
    * vectors (unchanged draw). A centroid that loses all sample
    * members disappears from the update (and from the oracle's c1
    * CTE) — codes only ever reference surviving cids. */
  private[operators] def pqTrain(v: DataFrame): Seq[Seq[(Long, Seq[Long], Long)]] = {
    val sample = v.withColumn("mh", md5(col("vec_id").cast("string")))
      .orderBy("mh").limit(PqTrainN).select("mh", "q").collect().toSeq
      .sortBy(_.getString(0))
      .map(_.getSeq[Long](1))
    val seeds = sample.take(PqK)
    var cents: Seq[Seq[(Long, Seq[Long], Long)]] = (0 until PqM).map { m =>
      seeds.zipWithIndex.map { case (q, i) =>
        val c = q.slice(m * PqSubDim, (m + 1) * PqSubDim)
        (i.toLong, c, c.map(x => x * x).sum)
      }
    }
    if (seeds.isEmpty) return cents
    val subs: Seq[Seq[Seq[Long]]] = (0 until PqM).map { m =>
      sample.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
    }
    for (_ <- 2 to Iters) {
      cents = (0 until PqM).map { m =>
        val assigned = subs(m).map { sub =>
          val best = cents(m).minBy { case (cid, c, _) =>
            (sub.lazyZip(c).map((a, b) => (a - b) * (a - b)).sum, cid)
          }
          (best._1, sub)
        }
        assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, members) =>
          val n = members.size.toLong
          val c = (0 until PqSubDim).map(i =>
            Math.floorDiv(members.iterator.map(_._2(i)).sum, n)).toSeq
          (cid, c, c.map(x => x * x).sum)
        }
      }
    }
    cents
  }

  /** Product-quantization ADC top-k (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): train a codebook per
    * subspace, ENCODE every vector to [[PqM]] codes, and answer each
    * query by Asymmetric Distance Computation — the query's exact
    * sub-vectors against the corpus's quantized codes, adist =
    * Σ_m ‖q_m − c_{m,code_m(x)}‖². This is the ANN memory-scale path
    * the IVF/LSH queries don't cover: the searched representation is
    * M small ints per vector, so a 10¹⁰-vector index fits a few dozen
    * executors' RAM where raw floats need the full corpus footprint.
    *
    * Exactness: embeddings quantize through the same
    * floor(x·10⁶)+shift as the k-means family, so every distance,
    * centroid mean, and ADC table entry is an exact long and the
    * result is bit-identical to the oracle's unrolled CTE chain
    * (assignment ties → lowest code, rank ties → lowest vec_id).
    *
    * Scale shape: training state is M·K·SubDim longs through the
    * driver per round (the kmeans Lloyd argument — O(1) in the
    * corpus); encoding is a pure codegen projection (literal centroid
    * arrays, no join); the scored relation is corpus × bounded-query
    * broadcast (the cosine_topk pattern) where the corpus side carries
    * only (vec_id, M codes) — the PQ point — and each row's adist is
    * [[PqM]] array lookups into the query's precomputed M×K tables.
    * Per-query ranking is the bounded-heap `graft_topk_min` aggregate
    * (map tasks combine to ≤ k pairs per query BEFORE the exchange —
    * O(partitions·queries·k) shuffled rows at any corpus size), not a
    * q_id window over corpus-sized partitions; measured a wash at
    * bench scale vs the window spelling (interleaved min-of-5:
    * 1.831/1.961 vs 1.855/2.002) and adopted for the scale shape. */
  val pqAdcTopk: Q = (spark, dir) => {
    // fanout BEFORE quantization: the sf-sized embeddings file is ONE
    // scan partition, so the whole train/encode/score chain otherwise
    // runs single-task (interleaved min-of-5 at sf0.1, r16: fanned
    // 1.517/1.578 vs 1.923/2.007 — faster all five rounds); at real
    // scale the scan is many-partition and fanout is a no-op
    val v = withSubs(quantShifted(
      Tables.fanout(Tables.embeddings(spark, dir)))).persist()
    // campaign sessions share the trained codebooks across the PQ
    // family (adc topk / recall report / the streaming encoders) via
    // the session artifact registry; solo this is a pass-through
    val cents = graft.Models.artifact(spark, s"pq_cents:$dir")(pqTrain(v))
    if (cents.head.isEmpty)
      // EMPTY corpus → no seeds → no codebook: the (necessarily empty)
      // result with the correct schema, same trick as [[assign]]
      v.select(col("vec_id").as("q_id"), lit(0L).as("rank"),
        col("vec_id"), lit(0L).as("adist")).filter(lit(false))
    else pqAdcOf(v, cents)
  }

  /** Encode a prepared ([[withSubs]]) relation to (vec_id, code0..3) —
    * a PURE PROJECTION over literal centroid arrays (no join, no
    * shuffle, no state), shared by the batch ADC query and the
    * streaming ingest encoder ([[graft.streaming.PqStream]]) so
    * batch/stream parity is by shared code. */
  private[graft] def pqEncodeSubbed(v: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]],
      keep: Seq[Column] = Seq.empty): DataFrame =
    (0 until PqM).foldLeft(v.toDF()) { (df, m) =>
      df.withColumn(s"code$m", pqBest(m, cents(m)).getField("cid"))
    }.select(col("vec_id") +: ((0 until PqM).map(m => col(s"code$m")) ++ keep): _*)

  /** The ADC distance of a coded row against the joined query tables —
    * Σ_m tbl_m[code_m + 1]; ONE definition shared by the batch top-k,
    * the recall audit, and the streaming monitor so the coding
    * arithmetic cannot silently diverge between paths. */
  private def adcDist: Column =
    (0 until PqM).map(m =>
      element_at(col(s"tbl$m"), col(s"code$m").cast("int") + 1)).reduce(_ + _)

  /** Encode raw (vec_id, embedding) rows — the streaming ingest shape. */
  private[graft] def pqEncode(vecs: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame =
    pqEncodeSubbed(withSubs(quantShifted(vecs)), cents)

  /** Train the codebooks over `dir`'s embeddings — the frozen artifact
    * a streaming deployment ships (driver-held literals; constant size
    * M·K·SubDim longs at any corpus). */
  private[graft] def pqTrainOn(spark: SparkSession, dir: String): Seq[Seq[(Long, Seq[Long], Long)]] =
    graft.Models.artifact(spark, s"pq_cents:$dir") {
      // fanout: same single-scan-partition reasoning as [[pqAdcTopk]];
      // no persist — training is ONE bounded top-N collect now
      pqTrain(withSubs(quantShifted(
        Tables.fanout(Tables.embeddings(spark, dir)))))
    }

  /** Query-side ADC tables over a PREPARED ([[withSubs]]) relation:
    * (q_id, tbl0..tblM-1) where slot cid of tbl_m holds d(q_m,
    * c_{m,cid}); vanished cids keep a 0 placeholder no code can
    * reference. */
  private def pqQueryTablesSubbed(v: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]],
      keep: Seq[Column] = Seq.empty): DataFrame =
    (0 until PqM).foldLeft(v.filter(col("vec_id") < PqQueries)) {
      (df, m) =>
        val byCid = cents(m).map(c => c._1 -> c).toMap
        df.withColumn(s"tbl$m", array((0L until PqK.toLong).map { cid =>
          byCid.get(cid) match {
            case Some((_, c, nc)) =>
              col(s"ns$m") - lit(2L) *
                expr(s"graft_dot(qs$m, array(${c.map(v => s"${v}L").mkString(",")}))") +
                lit(nc)
            case None => lit(0L)
          }
        }: _*))
    }.select(col("vec_id").as("q_id") +:
      ((0 until PqM).map(m => col(s"tbl$m")) ++ keep): _*)

  /** The frozen standing-query ADC tables over `dir`'s embeddings —
    * the 10-row artifact [[graft.streaming.AnnMonitorStream]] joins to
    * every micro-batch. */
  private[graft] def pqQueryTables(spark: SparkSession, dir: String,
      cents: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame =
    pqQueryTablesSubbed(withSubs(quantShifted(Tables.embeddings(spark, dir))), cents)

  /** ADC-score raw (vec_id, embedding) rows against a codebook and a
    * query-table relation: (q_id, vec_id, adist), self-matches
    * excluded — shared by the batch top-k and the streaming monitor
    * (stream-static join on the stream side). */
  private[graft] def pqAdcScore(vecs: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]], qrel: DataFrame): DataFrame =
    pqEncode(vecs, cents).crossJoin(broadcast(qrel))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", adcDist)
      .select(col("q_id"), col("vec_id"), col("adist"))

  private[operators] def pqAdcOf(v: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame = {
    val coded = pqEncodeSubbed(v, cents)
    val qrel = pqQueryTablesSubbed(v, cents)
    // per-query ranking via the bounded-heap [[graft.expressions.TopKMin]]
    // aggregate, NOT a q_id-partitioned row_number window: the window
    // spelling shuffles and sorts every scored candidate per query
    // (corpus-sized partitions); the heap combines each map task down
    // to ≤ k pairs per (q_id) BEFORE the exchange, so the shuffle
    // carries O(partitions·queries·k) rows at any corpus size. Rank =
    // array position (the heap emits ascending (adist, vec_id) — the
    // identical total order), so the output is bit-equal to the window
    // spelling and the oracle's row_number
    coded.crossJoin(broadcast(qrel))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", adcDist)
      .groupBy("q_id")
      .agg(expr(s"graft_topk_min(adist, vec_id, $PqTopK)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("vec_id"), col("t.key").as("adist"))
      .orderBy("q_id", "rank")
  }

  /** The same per-subspace Lloyd rounds + ADC scoring as a DuckDB CTE
    * list producing `quant(vec_id, q)`, `qv(q_id, q)`, and
    * `scored(q_id, vec_id, adist)` — shared by the top-k oracle and
    * the recall-report oracle (caller opens the WITH). */
  private def pqCtes: String = {
    def subSlice(src: String, m: Int): String =
      s"$src[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]"
    def dist(qExpr: String, cExpr: String): String =
      s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |    i -> ($qExpr[i] - $cExpr[i]) * ($qExpr[i] - $cExpr[i])))""".stripMargin
    val perSub = (0 until PqM).map { m =>
      s"""c0_$m AS (SELECT cid, ${subSlice("q", m)} AS c FROM seeds),
         |d1_$m AS (
         |  SELECT v.vec_id, c.cid, ${dist(s"${subSlice("v.q", m)}", "c.c")} AS d
         |  FROM train v CROSS JOIN c0_$m c),
         |a1_$m AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d1_$m)
         |  WHERE rn = 1),
         |c1_$m AS (
         |  SELECT cid, list(cv ORDER BY pos) AS c FROM (
         |    SELECT a.cid, r.i AS pos,
         |           sum(v.q[${m * PqSubDim} + r.i]) // count(*) AS cv
         |    FROM a1_$m a JOIN train v USING (vec_id)
         |    CROSS JOIN range(1, ${PqSubDim + 1}) r(i)
         |    GROUP BY 1, 2)
         |  GROUP BY 1),
         |d2_$m AS (
         |  SELECT v.vec_id, c.cid, ${dist(s"${subSlice("v.q", m)}", "c.c")} AS d
         |  FROM quant v CROSS JOIN c1_$m c),
         |a2_$m AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d2_$m)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val adcTerms = (0 until PqM).map { m =>
      dist(s"${subSlice("qv.q", m)}", s"k$m.c")
    }.mkString("\n         + ")
    val codeJoins = (0 until PqM).map { m =>
      s"JOIN a2_$m e$m ON e$m.vec_id = x.vec_id JOIN c1_$m k$m ON k$m.cid = e$m.cid"
    }.mkString("\n  ")
    s"""quant AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT) + $QShift) AS q
       |  FROM embeddings),
       |train AS (
       |  SELECT vec_id, q
       |  FROM quant ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $PqTrainN),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
       |              AS BIGINT) AS cid, q
       |  FROM train ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $PqK),
       |$perSub,
       |qv AS (SELECT vec_id AS q_id, q FROM quant WHERE vec_id < $PqQueries),
       |scored AS (
       |  SELECT qv.q_id, x.vec_id,
       |         CAST($adcTerms AS BIGINT) AS adist
       |  FROM qv JOIN quant x ON x.vec_id <> qv.q_id
       |  $codeJoins)""".stripMargin
  }

  val pqAdcTopkSql: String =
    s"""WITH $pqCtes
       |SELECT q_id, rank, vec_id, adist FROM (
       |  SELECT q_id, vec_id, adist,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
       |              AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X72 pq_recall_report — ADC-vs-exact recall audit
  // ---------------------------------------------------------------------

  /** Per-query RECALL of the PQ/ADC top-k against the exact top-k on
    * the same quantized vectors — the tuning artifact a PQ deployment
    * reads before committing (M, K): quantization error costs recall,
    * and this report prices it on the corpus's own query set, exactly
    * as [[Similarity.lshBandRecall]] prices the banding choice for the
    * MinHash family. n_hits = |ADC top-k ∩ exact top-k| per query,
    * recall_permille = n_hits·1000 div k — exact integers.
    *
    * The exact side runs on the SHIFTED quantized vectors (the shift
    * cancels in differences, so distances equal unshifted exact
    * quantized L2) and ranks on the same bounded-heap kernel by
    * (d, vec_id) — the identical total order the oracle's row_number
    * uses.
    *
    * Scale shape: both scorings are corpus × bounded-query broadcasts
    * (the family's audited shape — the exact side is the brute-force
    * baseline a recall AUDIT inherently pays on its sampled query
    * set, never on all pairs); both rankings combine map-side to ≤ k
    * rows per query; the report is query-cardinality. */
  private[operators] def pqRecallOf(v: DataFrame,
      cents: Seq[Seq[(Long, Seq[Long], Long)]]): DataFrame = {
    // FUSED audit pass (r17): the r16 spelling ran two corpus ×
    // bounded-query broadcasts (the ADC chain, then the exact
    // baseline), ranked each with its own aggregate, and joined the
    // two top-k relations into a hits count — five shuffle stages and
    // a 14-job cascade for a 10-row report. Both scorings read the
    // SAME corpus row against the SAME broadcast query row, so one
    // crossJoin computes adist AND exact d per candidate, ONE
    // aggregate carries both bounded heaps (two `graft_topk_min`
    // buffers side by side — still O(queries·k) state, map-side
    // combined), and the intersection that was a join + count agg
    // becomes per-row array algebra over two ≤ k arrays. Measured
    // sf0.1 warm: 1.43 s / 14 jobs → ~1.3 s / 12 jobs — the fusion
    // halves the scored volume but the floor is the serial
    // train-side job chain (persist build, seed draw, Lloyd round),
    // which is O(1) in the corpus and amortizes at scale.
    val coded = pqEncodeSubbed(v, cents, keep = Seq(col("q"), col("na")))
    val qexact = v.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"), col("na").as("q_na"))
    // ADC tables and exact-side columns come off the SAME filtered
    // rows — built as one projection, not a self-join of two 10-row
    // derivations of the identical subtree
    val qrel = pqQueryTablesSubbed(v, cents, keep = Seq(
      col("q").as("q_q"), col("na").as("q_na")))
    val both = coded.crossJoin(broadcast(qrel))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", adcDist)
      .withColumn("d", col("na") - lit(2L) * expr("graft_dot(q, q_q)") + col("q_na"))
      .groupBy("q_id")
      .agg(expr(s"graft_topk_min(adist, vec_id, $PqTopK)").as("ta"),
        expr(s"graft_topk_min(d, vec_id, $PqTopK)").as("te"))
      .select(col("q_id"),
        size(array_intersect(expr("transform(ta, t -> t.id)"),
          expr("transform(te, t -> t.id)"))).cast("long").as("n_hits"))
    // left join from the query set keeps the oracle's row-per-query
    // contract even for a degenerate corpus with no candidates
    qexact.select("q_id")
      .join(both, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_permille", expr(s"(n_hits * 1000L) div $PqTopK"))
      .orderBy("q_id")
  }

  val pqRecallReport: Q = (spark, dir) => {
    // fanout: same single-scan-partition reasoning as [[pqAdcTopk]]
    val v = withSubs(quantShifted(
      Tables.fanout(Tables.embeddings(spark, dir)))).persist()
    // shared-codebook artifact, same key as [[pqAdcTopk]]
    val cents = graft.Models.artifact(spark, s"pq_cents:$dir")(pqTrain(v))
    if (cents.head.isEmpty)
      v.select(col("vec_id").as("q_id"), lit(0L).as("n_hits"),
        lit(0L).as("recall_permille")).filter(lit(false))
    else pqRecallOf(v, cents)
  }
  val pqRecallReportSql: String =
    s"""WITH $pqCtes,
       |pq_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $PqTopK),
       |ex AS (
       |  SELECT qv.q_id, x.vec_id,
       |         list_sum(list_transform(range(1, ${PqM * PqSubDim + 1}),
       |             i -> (qv.q[i] - x.q[i]) * (qv.q[i] - x.q[i]))) AS d
       |  FROM qv JOIN quant x ON x.vec_id <> qv.q_id),
       |ex_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rank
       |    FROM ex)
       |  WHERE rank <= $PqTopK),
       |hits AS (
       |  SELECT a.q_id, count(*) AS n_hits
       |  FROM pq_top a JOIN ex_top b ON a.q_id = b.q_id AND a.vec_id = b.vec_id
       |  GROUP BY 1)
       |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST((coalesce(h.n_hits, 0) * 1000) // $PqTopK AS BIGINT)
       |         AS recall_permille
       |FROM (SELECT DISTINCT q_id FROM qv) q LEFT JOIN hits h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X73 hard_negative_mine — contrastive hard-negative mining
  // ---------------------------------------------------------------------

  /** Negatives mined per query. */
  val HardNegK = 5

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor in the bounded query set, the [[HardNegK]] NEAREST vectors
    * carrying a DIFFERENT label — the semantically-closest wrong
    * answers, which is exactly what a contrastive loss wants in the
    * denominator (random negatives are trivially separable and teach
    * nothing; see e.g. SimCSE/DPR hard-negative practice). Distances
    * are exact longs on the shared shifted-quantized representation
    * (‖a−b‖² = na − 2·a·b + nb), so ranking is bit-identical across
    * engines; ties break to the lower vec_id, the family's total
    * order.
    *
    * Scale shape: the family's audited corpus × bounded-anchor
    * broadcast — the label constraint is a row-local filter BEFORE the
    * ranking aggregate, and the per-anchor ranking is the bounded-heap
    * `graft_topk_min` (map tasks combine to ≤ k pairs per anchor
    * before the exchange). One corpus pass, O(partitions·anchors·k)
    * shuffled rows, no window, no per-label shuffle. */
  val hardNegativeMine: Q = (spark, dir) => {
    val e = Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr(s"graft_quant(embedding, ${QScale}L, ${QShift}L)").as("q"))
      .withColumn("na", expr("graft_dot(q, q)"))
    val anchors = e.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("q").as("q_q"), col("na").as("q_na"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("d",
        col("na") - lit(2L) * expr("graft_dot(q, q_q)") + col("q_na"))
      .groupBy("q_id")
      .agg(expr(s"graft_topk_min(d, vec_id, $HardNegK)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("vec_id"), col("t.key").as("dist"))
      .orderBy("q_id", "rank")
  }
  val hardNegativeMineSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT) + $QShift) AS q
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, label, q,
       |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS na
       |  FROM e),
       |scored AS (
       |  SELECT a.vec_id AS q_id, c.vec_id,
       |         CAST(c.na - 2 * list_sum(list_transform(range(1, ${Dim + 1}),
       |                i -> c.q[i] * a.q[i])) + a.na AS BIGINT) AS d
       |  FROM en a JOIN en c
       |    ON a.vec_id < $PqQueries AND c.vec_id <> a.vec_id AND c.label <> a.label)
       |SELECT q_id, rank, vec_id, dist FROM (
       |  SELECT q_id, vec_id, d AS dist,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id)
       |              AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $HardNegK ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // X74 cluster_balanced_sample — diversity sampling by cluster quota
  // ---------------------------------------------------------------------

  /** Per-cluster pick quota. */
  val ClusterQuota = 25

  /** Cluster-balanced subsampling: run the shared k-means core, then
    * take up to [[ClusterQuota]] vectors PER CLUSTER by a content-keyed
    * hash draw — the diversity-sampling pass (cf. k-center/cluster-
    * balanced selection in data-curation practice) that keeps a
    * capped, representative slice of every semantic region instead of
    * letting the corpus's head clusters dominate the training mix.
    * The draw key is `h60('cbs:' || vec_id)` — deterministic,
    * engine-reproducible, and INDEPENDENT of the seed draw's
    * `md5(vec_id)` stream (prefixing decorrelates the two uses of the
    * same id).
    *
    * Scale shape: the k-means core's audited shape (driver-held
    * centroid literals, assignment as a pure projection), then ONE
    * bounded-heap `graft_topk_min` aggregate keyed by cluster — map
    * tasks combine to ≤ quota picks per cluster BEFORE the exchange,
    * so the sample never sorts a cluster's full membership anywhere
    * (the window spelling would range-sort corpus-sized cluster
    * partitions; the reservoir_sample pre-filter trick doesn't apply
    * because the quota here is per-CLUSTER, K of which are constant).
    * n_total rides the same aggregate. */
  val clusterBalancedSample: Q = (spark, dir) => {
    val a = kmeans(quantShifted(Tables.embeddings(spark, dir)))
    a.withColumn("hk", Dedup.h60(concat(lit("cbs:"), col("vec_id"))))
      .groupBy("cid")
      .agg(expr(s"graft_topk_min(hk, vec_id, $ClusterQuota)").as("picks"),
        count(lit(1)).as("n_total"))
      .select(col("cid").as("cluster"), col("n_total"),
        posexplode(col("picks")).as(Seq("pos", "t")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("pick_rank"),
        col("t.id").as("vec_id"), col("n_total"))
      .orderBy("cluster", "pick_rank")
  }
  val clusterBalancedSampleSql: String =
    s"""WITH ${kmeansCtes("embeddings")},
       |hk AS (
       |  SELECT vec_id, cid,
       |         ${h60Duck("'cbs:' || CAST(vec_id AS VARCHAR)")} AS hk
       |  FROM a2),
       |picked AS (
       |  SELECT cid AS cluster, vec_id,
       |         row_number() OVER (PARTITION BY cid ORDER BY hk, vec_id) AS pick_rank,
       |         count(*) OVER (PARTITION BY cid) AS n_total
       |  FROM hk)
       |SELECT cluster, CAST(pick_rank AS BIGINT) AS pick_rank, vec_id,
       |       CAST(n_total AS BIGINT) AS n_total
       |FROM picked WHERE pick_rank <= $ClusterQuota
       |ORDER BY cluster, pick_rank""".stripMargin

  // ---------------------------------------------------------------------
  // X77 knn_label_eval — embedding label-coherence probe (kNN vote)
  // ---------------------------------------------------------------------

  /** Neighbors voting per query. */
  val KnnK = 5

  /** kNN label-coherence evaluation: classify each bounded-set query
    * by the majority label of its [[KnnK]] exact nearest neighbors and
    * report the verdict — the standard embedding-quality probe (a
    * label-coherent space classifies its own points correctly; random
    * embeddings score at chance), run before anyone trains on the
    * vectors. Ties: rank ties → lower vec_id (the family order), vote
    * ties → lower label.
    *
    * The neighbor LABEL rides the bounded heap packed into the id —
    * `id = vec_id·16 + label` is strictly monotone in vec_id (labels
    * are one-per-vector and < 16, spec-asserted), so (d, packed) ranks
    * identically to the oracle's (d, vec_id) while the vote needs NO
    * join back to the corpus for labels: one corpus pass total, the
    * vote itself is queries·k rows. */
  val knnLabelEval: Q = (spark, dir) => {
    val e = Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr(s"graft_quant(embedding, ${QScale}L, ${QShift}L)").as("q"))
      .withColumn("na", expr("graft_dot(q, q)"))
    val anchors = e.filter(col("vec_id") < PqQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("q").as("q_q"), col("na").as("q_na"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d",
        col("na") - lit(2L) * expr("graft_dot(q, q_q)") + col("q_na"))
      .groupBy("q_id", "q_label")
      // runtime guard, not just a spec assertion: a label outside
      // [0,16) would silently corrupt both the packed tie order and
      // the unpacked vote — fail the query loudly instead
      .agg(expr(s"""graft_topk_min(d, vec_id * 16L +
           |  (CASE WHEN label >= 0 AND label < 16 THEN label
           |        ELSE CAST(raise_error(
           |          'knn_label_eval: label outside [0,16) breaks the id packing')
           |          AS BIGINT) END), $KnnK)""".stripMargin).as("top"))
      .select(col("q_id"), col("q_label"), explode(col("top")).as("t"))
      .select(col("q_id"), col("q_label"), expr("t.id % 16").as("nb_label"))
      .groupBy("q_id", "q_label", "nb_label").agg(count(lit(1)).as("cnt"))
      .groupBy("q_id", "q_label")
      .agg(max_by(col("nb_label"),
        struct(col("cnt"), (-col("nb_label")).as("n"))).as("pred_label"))
      .select(col("q_id"), col("q_label").as("true_label"), col("pred_label"),
        (col("q_label") === col("pred_label")).as("correct"))
      .orderBy("q_id")
  }
  val knnLabelEvalSql: String =
    s"""WITH en AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT) + $QShift) AS q
       |  FROM embeddings),
       |en2 AS (
       |  SELECT vec_id, label, q,
       |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS na
       |  FROM en),
       |scored AS (
       |  SELECT a.vec_id AS q_id, a.label AS q_label,
       |         c.vec_id, c.label AS nb_label,
       |         CAST(c.na - 2 * list_sum(list_transform(range(1, ${Dim + 1}),
       |                i -> c.q[i] * a.q[i])) + a.na AS BIGINT) AS d
       |  FROM en2 a JOIN en2 c ON a.vec_id < $PqQueries AND c.vec_id <> a.vec_id),
       |top AS (
       |  SELECT q_id, q_label, nb_label FROM (
       |    SELECT q_id, q_label, nb_label,
       |           row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rn
       |    FROM scored) WHERE rn <= $KnnK),
       |votes AS (
       |  SELECT q_id, q_label, nb_label, count(*) AS cnt
       |  FROM top GROUP BY 1, 2, 3)
       |SELECT q_id, q_label AS true_label, pred_label,
       |       q_label = pred_label AS correct
       |FROM (
       |  SELECT q_id, q_label, nb_label AS pred_label,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, nb_label) AS vr
       |  FROM votes) WHERE vr = 1
       |ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------------
  // X78 embedding_decontam — eval-set decontamination in embedding space
  // ---------------------------------------------------------------------

  /** Bounded eval-set size (the held-out suite a deployment freezes). */
  val EvalN = 50L

  /** Embedding-space decontamination: flag every training vector whose
    * cosine against ANY eval vector exceeds τ = 0.9 — the semantic
    * complement of `split_contamination`'s n-gram audit (a paraphrased
    * leak shares no 5-gram but lands next to its source in embedding
    * space). The corpus includes a synthesized LEAK — re-keyed copies
    * of every even-id eval vector, the way held-out examples actually
    * reappear in a crawl — so the positive path is provably exercised
    * on random testdata (cos(copy, source) = 1).
    *
    * Exact arithmetic: signed quantization floor(x·10⁶) (no shift —
    * cosine needs signed dots), and the τ² test is the overflow-free
    * `graft_mulge` 128-bit rational compare
    * `(10·dot)² ≥ (τ²·100)·na·nb` with dot > 0 — no float anywhere,
    * the semdedup numeric policy.
    *
    * Scale shape: eval suites are FIXED-SIZE while the corpus grows
    * (the benchmark_contamination argument), so the scoring pass is
    * corpus × bounded-eval broadcast with a row-local threshold test;
    * the match count is a map-combinable hash aggregate on vec_id and
    * the verdict join-back touches only (vec_id) columns. */
  /** Signed quantization of raw (vec_id, embedding) rows — the
    * decontam representation (no shift: cosine needs signed dots). */
  private[graft] def quantSigned(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      expr(s"graft_quant(embedding, ${QScale}L, 0L)").as("q"))
      .withColumn("na", expr("graft_dot(q, q)"))

  /** The frozen eval suite over `dir`'s embeddings — the broadcastable
    * artifact both the batch audit and the streaming ingest gate
    * ([[graft.streaming.DecontamStream]]) score against. */
  private[graft] def decontamEvalRel(spark: SparkSession, dir: String): DataFrame =
    quantSigned(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < EvalN)
      .select(col("vec_id").as("e_id"), col("q").as("e_q"), col("na").as("e_na"))

  /** (vec_id, n_matched) for every quantSigned row matching ≥ 1 eval
    * vector above τ — the shared threshold core (exact `graft_mulge`
    * arithmetic), ONE definition for batch and stream. */
  private[graft] def decontamMatches(vecs: DataFrame, ev: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(ev))
      .withColumn("dot", expr("graft_dot(q, e_q)"))
      .filter(col("dot") > 0 &&
        expr("graft_mulge(10L * dot, 10L * dot, 81L * na, e_na)"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_matched"))

  val embeddingDecontam: Q = (spark, dir) => {
    // persisted: base is read ~5 ways (eval broadcast, both train
    // arms, and train again on each side of the verdict join) — the
    // PQ family's persisted-v pattern, not 5 quantization scans
    val base = quantSigned(Tables.fanout(Tables.embeddings(spark, dir))).persist()
    val eval = base.filter(col("vec_id") < EvalN)
      .select(col("vec_id").as("e_id"), col("q").as("e_q"), col("na").as("e_na"))
    // train = the rest ∪ leaked re-crawls of even-id eval vectors
    val train = base.filter(col("vec_id") >= EvalN)
      .unionByName(base.filter(col("vec_id") < EvalN && col("vec_id") % 2 === 0)
        .select((col("vec_id") + Dedup.ReKeyA).as("vec_id"), col("q"), col("na")))
    train.select("vec_id")
      .join(decontamMatches(train, eval), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("keep", col("n_matched") === 0L)
      .orderBy("vec_id")
  }
  val embeddingDecontamSql: String =
    s"""WITH qn AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT)) AS q
       |  FROM embeddings),
       |base AS (
       |  SELECT vec_id, q,
       |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS na
       |  FROM qn),
       |ev AS (SELECT vec_id AS e_id, q AS e_q, na AS e_na FROM base
       |       WHERE vec_id < $EvalN),
       |train AS (
       |  SELECT vec_id, q, na FROM base WHERE vec_id >= $EvalN
       |  UNION ALL
       |  SELECT vec_id + ${Dedup.ReKeyA} AS vec_id, q, na FROM base
       |  WHERE vec_id < $EvalN AND vec_id % 2 = 0),
       |m AS (
       |  SELECT t.vec_id, count(*) AS n_matched FROM (
       |    SELECT t.vec_id,
       |           CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |                i -> t.q[i] * e.e_q[i])) AS BIGINT) AS dot,
       |           t.na, e.e_na
       |    FROM train t CROSS JOIN ev e) t
       |  WHERE dot > 0
       |    AND CAST(dot AS HUGEINT) * dot * 100
       |        >= 81 * CAST(na AS HUGEINT) * e_na
       |  GROUP BY t.vec_id)
       |SELECT t.vec_id, COALESCE(m.n_matched, 0) AS n_matched,
       |       COALESCE(m.n_matched, 0) = 0 AS keep
       |FROM train t LEFT JOIN m ON m.vec_id = t.vec_id
       |ORDER BY t.vec_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "knn_label_eval" -> Query(knnLabelEval, knnLabelEvalSql),
    "embedding_decontam" -> Query(embeddingDecontam, embeddingDecontamSql),
    "kmeans_assign" -> Query(kmeansAssign, kmeansAssignSql),
    "semdedup_prune" -> Query(semdedupPrune, semdedupPruneSql),
    "pq_adc_topk" -> Query(pqAdcTopk, pqAdcTopkSql),
    "pq_recall_report" -> Query(pqRecallReport, pqRecallReportSql),
    "hard_negative_mine" -> Query(hardNegativeMine, hardNegativeMineSql),
    "cluster_balanced_sample" -> Query(clusterBalancedSample, clusterBalancedSampleSql),
  )
}
