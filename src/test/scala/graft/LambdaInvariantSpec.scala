package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, NamedLambdaVariable}
import org.scalatest.funsuite.AnyFunSuite

/** Structural tripwire for the O(n²) lambda re-evaluation class fixed
  * in r14 (docs/SCALE.md §"r14 engine findings"): a higher-order
  * function's lambda body re-evaluates its expressions per ELEMENT,
  * and `CollapseProject` happily inlines a hoisted single-use alias
  * into a lambda — so an expensive expression that does NOT reference
  * the lambda's own variables (i.e. is loop-invariant) re-runs once
  * per element instead of once per row. `cdc_chunks` shipped exactly
  * that: `element_at(graft_winhash(words), p)` inside a filter —
  * the whole-doc md5 pass per position, O(tokens²), 24 s of CPU at
  * sf0.1, invisible at spec scale.
  *
  * The rule checked here is the structural negation: in every
  * registered query's OPTIMIZED plan (post-CollapseProject — the plan
  * that executes), no lambda body may contain an expensive
  * subexpression that references no lambda variable. Expensive =
  * the native graft kernels (all O(input) passes) plus built-ins
  * whose cost scales with their input (hashes, tokenizers, array
  * traversals). A subtree that references ANY lambda variable is
  * element-dependent — per-element evaluation is then the point, not
  * a bug (e.g. `md5(w)` in a per-token hash).
  */
class LambdaInvariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** prettyNames whose evaluation cost scales with input size. */
  private val ExpensiveBuiltins = Set(
    "md5", "sha1", "sha2", "crc32", "xxhash64",
    "split", "sort_array", "array_sort", "array_distinct",
    "regexp_extract", "regexp_extract_all", "regexp_replace",
    "aggregate", "transform", "filter", "zip_with", "array_join",
    "concat_ws", "to_json", "from_json",
    // array constructors/traversals: loop-invariant inside a lambda
    // they rebuild a whole array per element
    "sequence", "slice", "flatten", "array_repeat", "arrays_zip",
    "map_from_entries", "array_union", "array_intersect", "array_except")

  private def isExpensive(e: Expression): Boolean =
    (e.getClass.getPackage != null &&
      e.getClass.getPackage.getName == "graft.expressions") ||
      ExpensiveBuiltins.contains(e.prettyName)

  private def loopInvariantOffenders(lf: LambdaFunction): Seq[Expression] =
    lf.function.collect {
      case t if isExpensive(t) && !t.foldable &&
        t.collectFirst { case v: NamedLambdaVariable => v }.isEmpty => t
    }

  test("no registered query evaluates a loop-invariant expensive expression inside a lambda") {
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      val plan = fn(spark, Dir).queryExecution.optimizedPlan
      plan.flatMap(_.expressions).flatMap(_.collect {
        case lf: LambdaFunction => loopInvariantOffenders(lf)
          .map(t => s"$name: ${t.prettyName} — ${t.sql.take(120)}")
      }).flatten
    }
    assert(offenders.isEmpty,
      s"\nLoop-invariant expensive expressions inside lambda bodies (re-evaluated per" +
        s" ELEMENT at runtime — the cdc_chunks O(n²) class):\n  " +
        offenders.distinct.mkString("\n  ") +
        "\n  Fix: make the expensive array the HOF's DIRECT input, or pre-compute it" +
        " outside the lambda in a way CollapseProject cannot inline (see docs/SCALE.md r14).")
  }
}
