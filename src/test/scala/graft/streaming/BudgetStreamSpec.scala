package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The frozen-budget quota gate must reproduce the batch op exactly
  * when docs arrive in the batch's priority order, carry its one-long
  * per-source spend across micro-batches, and quarantine sources the
  * reference never vetted — the state-and-contract surface the
  * stateless scorer twins don't exercise. */
class BudgetStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Row6 = (Long, String, Long, Long, Long, Boolean)

  private def batchRows: Set[Row6] =
    SparkEntry.queries("source_token_budget")(spark, Dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet

  private def corpusDocs: Array[BudgetDoc] =
    graft.Tables.documents(spark, Dir)
      .selectExpr("doc_id", "source", "CAST(size(split(text, ' ')) AS LONG) AS n_tok")
      .collect()
      .map(r => BudgetDoc(r.getLong(0), r.getString(1), r.getLong(2)))

  private def run(batches: Seq[Seq[BudgetDoc]]): Seq[BudgetDecision] = {
    import spark.implicits._
    val budgets = BudgetStream.trainBudgets(spark, Dir)
    StreamDriver.run(batches, "append")(BudgetStream.gate(_, budgets))
      .rows.as[BudgetDecision].collect().toSeq
  }

  private def key(d: BudgetDecision): Row6 =
    (d.docId, d.source, d.nTokens, d.budget, d.spentBefore, d.keep)

  test("single-batch replay equals the batch gate bit-for-bit") {
    val streamed = run(Seq(corpusDocs.toSeq)).map(key).toSet
    val batch = batchRows
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs " +
        s"${(batch diff streamed).take(3)}")
  }

  test("spend carries across micro-batches; priority-order arrival still matches batch") {
    // split every source's docs at its priority midpoint: batch 1 gets
    // each source's top-priority half, batch 2 the rest — arrival
    // respects the batch op's global order, so decisions must agree,
    // and batch 2's first decision per source must start at batch 1's
    // cumulative spend (the carried state, observed directly)
    val bySrc = corpusDocs.groupBy(_.source).view
      .mapValues(_.sortBy(d => (-d.nTokens, d.docId)).toSeq).toMap
    val first = bySrc.values.flatMap(ds => ds.take(ds.length / 2)).toSeq
    val second = bySrc.values.flatMap(ds => ds.drop(ds.length / 2)).toSeq
    val decisions = run(Seq(first, second))
    assert(decisions.map(key).toSet == batchRows, "split-arrival decisions diverged")
    val firstSpend = first.groupBy(_.source).view.mapValues(_.map(_.nTokens).sum).toMap
    second.groupBy(_.source).foreach { case (src, ds) =>
      val head = ds.sortBy(d => (-d.nTokens, d.docId)).head
      // getOrElse: a single-doc source contributes nothing to batch 1
      // (length/2 == 0), so its carried spend is legitimately zero
      val expect = firstSpend.getOrElse(src, 0L)
      val got = decisions.find(_.docId == head.docId).get.spentBefore
      assert(got == expect,
        s"$src: batch-2 head spentBefore $got != batch-1 spend $expect")
    }
  }

  test("a source the reference never vetted is quarantined from its first doc") {
    val decisions = run(Seq(Seq(
      BudgetDoc(900001L, "neverseen", 5L), BudgetDoc(900002L, "neverseen", 3L))))
    assert(decisions.length == 2)
    decisions.foreach { d =>
      assert(d.budget == 0L && !d.keep,
        s"unvetted source must have zero budget and keep=false: $d")
    }
  }
}
