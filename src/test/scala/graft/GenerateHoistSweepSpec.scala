package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, Md5, RegExpExtractAll, RegExpReplace, Sha1, Sha2, StringSplit, StringTranslate}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide scale guard #5 (r15): no heavy per-doc string kernel
  * may be evaluated ABOVE a Generate on columns the Generate merely
  * replicates.
  *
  * The optimizer hoists projections that don't depend on the generator
  * output to ABOVE the Generate (column pruning pushes only the
  * generator's inputs below) — so an innocently co-projected
  * `length(translate(text, …))` next to `explode(split(text))` runs
  * once per GENERATED row, not once per document: an O(doc_len)
  * string pass multiplied by tokens-per-doc. Measured in r15: a
  * 0.35 s aggregate became 3.9 s from exactly this hoist — the same
  * multiplier class as the r14 lambda-inlining disease, different
  * mechanism (docs/SCALE.md §r15).
  *
  * The sweep walks every registered query's pre-AQE physical plan
  * (and every persisted relation's cached plan) and flags heavy
  * string kernels (translate / split / regexp / md5 / sha) in the
  * narrow Project/Filter chain directly above a GenerateExec whose
  * column inputs all come from the Generate's requiredChildOutput —
  * per-INPUT-row data fanned out per generated row. Work on the
  * generator's own output is fine (that IS per-generated-row data);
  * anything past a shuffle/aggregate/join boundary is a different
  * cardinality regime and breaks the chain.
  */
class GenerateHoistSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def heavyName(e: Expression): Option[String] = e match {
    case _: StringTranslate => Some("translate")
    case _: StringSplit => Some("split")
    case _: RegExpExtractAll => Some("regexp_extract_all")
    case _: RegExpReplace => Some("regexp_replace")
    case _: Md5 => Some("md5")
    case _: Sha1 => Some("sha1")
    case _: Sha2 => Some("sha2")
    case _ => None
  }

  /** Heavy sub-expressions of `exprs` whose column inputs are all
    * replicated doc-level attributes. */
  private def offendersIn(exprs: Seq[Expression], replicated: AttributeSet): Seq[String] =
    exprs.flatMap(_.collect {
      case e if heavyName(e).isDefined &&
        e.references.nonEmpty && e.references.subsetOf(replicated) =>
        s"${heavyName(e).get}(${e.references.map(_.name).mkString(",")})"
    })

  /** Walk the plan; `pending` accumulates the Project/Filter
    * expressions of the narrow chain above the current node. */
  private def sweep(p: SparkPlan, pending: Seq[Expression]): Seq[String] = p match {
    case g: GenerateExec =>
      offendersIn(pending, AttributeSet(g.requiredChildOutput)) ++
        g.children.flatMap(c => sweep(c, Nil))
    case pr: ProjectExec => sweep(pr.child, pending ++ pr.projectList)
    case f: FilterExec => sweep(f.child, pending :+ f.condition)
    case im: InMemoryTableScanExec =>
      // a persisted stage hides its physical plan from the outer walk;
      // the cache boundary also breaks the narrow chain
      sweep(im.relation.cachedPlan, Nil)
    case other =>
      // exchanges, aggregates, joins, scans: different cardinality
      // regime — the chain breaks
      other.children.flatMap(c => sweep(c, Nil))
  }

  test("the detector catches the known-bad co-projected spelling (negative control)") {
    import org.apache.spark.sql.functions._
    // the exact r15 bm25 regression: a doc-level translate count
    // co-projected with an explode — the optimizer hoists it above
    // the Generate, turning it per-token
    val bad = Tables.documents(spark, Dir)
      .select(col("doc_id"),
        expr("CAST(length(text) - length(translate(text, ' ', '')) + 1 AS BIGINT)").as("dl"),
        explode(split(col("text"), " ")).as("term"))
    val hits = sweep(bad.queryExecution.sparkPlan, Nil)
    assert(hits.exists(_.startsWith("translate")),
      s"the sweep must flag the hoisted translate; got $hits")
  }

  test("no heavy string kernel above a Generate on replicated columns") {
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      sweep(fn(spark, Dir).queryExecution.sparkPlan, Nil)
        .distinct.map(h => s"$name: $h")
    }
    assert(offenders.isEmpty,
      "\nHeavy string work evaluated per GENERATED row over replicated doc-level" +
        " columns (the optimizer hoisted it above the Generate — compute it in a" +
        " separate relation, derive it post-aggregate, or ride a window):\n  " +
        offenders.mkString("\n  "))
  }
}
