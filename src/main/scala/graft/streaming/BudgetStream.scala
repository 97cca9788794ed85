package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Curation

/** A document entering the quota gate: token count is computed
  * upstream by the same whitespace tokenizer the batch op uses. */
final case class BudgetDoc(docId: Long, source: String, nTokens: Long)

/** A quota decision: the doc's source budget, the tokens already seen
  * from its source before it, and whether it survives the cap. */
final case class BudgetDecision(docId: Long, source: String, nTokens: Long,
  budget: Long, spentBefore: Long, keep: Boolean)

/** Streaming twin of the batch `source_token_budget` — the quota
  * gate's continuous form (docs arrive forever; each source's spend
  * accumulates until its budget fills, then the source goes dark): the
  * per-source budgets are trained ONCE on a reference corpus with the
  * batch op's own 6/10-of-mass formula, FROZEN into a driver-side map
  * (domain-cardinality — the same constant-size-model lifecycle as
  * [[DsirStream]]/[[DriftStream]], here as plain numbers rather than a
  * relation), and every doc is gated by the running spend.
  *
  * Contract differences vs batch, stated honestly:
  *  - the batch op spends in GLOBAL priority order (longest-first);
  *    a stream can only prioritize within a micro-batch (same order:
  *    tokens desc, doc_id) and must take arrival order across
  *    batches — identical to the batch result when the stream
  *    delivers docs in priority order (the spec proves that
  *    equivalence), deterministic for any given stream either way;
  *  - the batch op derives each budget from the corpus it is gating;
  *    the stream's budgets come from the frozen reference, so a source
  *    the reference has never seen has budget 0 and is quarantined
  *    from the first doc (keep = false, decisions still emitted) — the
  *    conservative default for an unvetted domain.
  *
  * Spending follows the batch op's prefix rule exactly: `spentBefore`
  * counts ALL previously seen tokens of the source (kept or dropped),
  * and keep ⟺ spentBefore < budget — so the kept set is a prefix of
  * the arrival-priority order and a doc is never half-kept.
  *
  * Scale shape: state per source is ONE long (the cumulative token
  * count), so total state is O(domains) regardless of stream length —
  * nothing per-doc is retained, no watermark is needed.
  * [[Streams.keyedFold]] keys on source, so domains gate
  * independently and in parallel, exactly like the batch window
  * partitions. TRANSIENT memory is a different bound: the within-batch
  * priority sort materializes one source's micro-batch group in a
  * single task (`incoming.toSeq` below), so peak task memory is
  * O(largest per-source batch) — the cost driver for a skewed mega-
  * source. That's a property of the batch SIZE, not the stream length;
  * the operational lever is trigger sizing (smaller micro-batches), or
  * dropping the within-batch ORDER BY and gating in arrival order,
  * which restores O(1) per-row streaming through the group iterator at
  * the price of the batch op's priority semantics. */
object BudgetStream {

  /** The batch op's budget formula over a reference corpus, collected
    * to a driver map: source → (Σ tokens)·6/10. Domain-cardinality
    * rows — collecting is the point (the frozen artifact is a number
    * per domain, shipped with the stream job like any config). */
  def trainBudgets(spark: SparkSession, refDir: String): Map[String, Long] =
    Tables.documents(spark, refDir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(expr(s"(sum(n_tok) * ${Curation.BudgetNum}) div ${Curation.BudgetDen}")
        .as("budget"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Gate the stream against frozen per-source budgets. */
  def gate(docs: Dataset[BudgetDoc], budgets: Map[String, Long]): Dataset[BudgetDecision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Streams.keyedFold(docs)(_.source, zero = 0L) { (source, spent0, incoming) =>
      var spent = spent0
      val budget = budgets.getOrElse(source, 0L)
      // within-batch priority = the batch op's ORDER BY; across
      // batches, arrival order governs (see contract note above)
      val out = incoming.toSeq.sortBy(d => (-d.nTokens, d.docId)).map { d =>
        val before = spent
        spent += d.nTokens
        BudgetDecision(d.docId, source, d.nTokens, budget, before, before < budget)
      }
      (spent, out)
    }
  }
}
